package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import java.nio.charset.StandardCharsets.UTF_8

/** Persistent, incrementally-updatable bucketed store — the
  * ChangesetDB.java analog (the reference keeps a resumable Postgres upsert
  * store of changeset rows; `--changeset-db`, docs/CLI.md) and the one
  * commit path under every persisted store here (changesets, the update
  * store, the LSH/BM25/window indexes, the IVF cells).
  *
  * Layout, one for every store:
  *
  *  - `b=<i>/v=<vi>/` — bucket i's immutable base data as of store
  *    version vi; rows hash into buckets by `pmod(hash(bucketBy), NB)`
  *    (or any content-defined `_b` a caller stages, e.g. IVF cells).
  *  - `b=<i>/d=<dv>/` — pending delta appends ([[appendBucketed]]).
  *  - `manifest-v<M>.json` — bucket → live base version (`"<b>":vi`) and
  *    pending deltas (`"<b>#d":[dv,…]`) for store version M.
  *  - `meta.json` — the pinned layout (`numBuckets`, `bucketBy`) and the
  *    row schema.
  *  - `current` — single-line pointer to the live version, the only
  *    commit point. Commit order: data → manifest → pointer (tmp + atomic
  *    rename), so a crash mid-write leaves the previous version live and
  *    the re-run replaces the orphan — the same idempotent-resume
  *    contract as the replication catch-up state.
  *
  * Upsert = latest-wins by key ([[upsertBucketed]]): an upsert reads,
  * merges (broadcast anti-join of the batch key set, so the store side
  * never shuffles) and rewrites ONLY the buckets the batch touches;
  * untouched buckets keep their existing files byte-for-byte. A batch of
  * k distinct keys touches about min(NB, k) buckets
  * (NB·(1 − (1 − 1/NB)^k) for uniform hashes) and costs that share of the
  * store in I/O, not a full rewrite — so the saving is real for batches
  * of fewer keys than buckets; a 300-key minutely diff at NB = 64 touches
  * every bucket. Reads stay plain multi-path parquet scans.
  *
  * **Delta appends** ([[appendBucketed]]) serve append-only row sets: a
  * batch lands as per-bucket delta directories WITHOUT reading or
  * rewriting any existing bucket data — O(batch) I/O even when the batch
  * touches every bucket (the LSH index case: a diverse daily batch hashes
  * into all band buckets, and a read-merge-rewrite there would rewrite
  * the whole accumulated store every day). Reads scan base + deltas;
  * [[compactBucketed]] folds delta-heavy buckets back into their base.
  * Because delta rows are UNIONED (never key-merged) at read time,
  * appends are only for stores whose row identity never repeats —
  * latest-wins writers must use [[upsertBucketed]], which also folds any
  * pending deltas it touches.
  *
  * The bucket layout is pinned in `meta.json` at store creation and
  * ADOPTED by every later writer and by every pruned reader: two writers
  * hashing the same key with different bucket counts would strand live
  * rows in dead buckets, so a writer's bucket arguments only size a store
  * that does not exist yet, and readers take none. `meta.json` also
  * records the row schema, so reading bucket directories never runs a
  * schema-inference job; the paths come from the manifest.
  *
  * A store written by the retired full-rewrite snapshot layout (`v=N/`
  * directories, no manifest) fails loudly — "snapshot-layout store;
  * rebuild it" — instead of reading as missing or restarting at v1.
  */
object ChangesetStore {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Live version number, if the store exists. A missing pointer file does
    * NOT mean an empty store: the pointer swap is not atomic on every
    * filesystem, so recovery falls back to the highest fully committed
    * `manifest-v<N>.json` (written via tmp + atomic rename after its
    * bucket data). Without this, a crash inside the pointer swap would
    * silently restart the store from scratch on the next upsert.
    */
  def currentVersion(spark: SparkSession, storeDir: String): Option[Int] = {
    val f = fs(spark, storeDir)
    val ptr = new Path(storeDir, "current")
    if (f.exists(ptr)) {
      val in = f.open(ptr)
      try Some(new String(in.readAllBytes(), UTF_8).trim.toInt)
      finally in.close()
    } else recoverVersion(spark, storeDir)
  }

  /** Highest committed version when the pointer is missing (crash
    * recovery); None only for a genuinely empty/new store.
    */
  private def recoverVersion(spark: SparkSession, storeDir: String): Option[Int] = {
    val f = fs(spark, storeDir)
    if (!f.exists(new Path(storeDir))) return None
    val names = f.listStatus(new Path(storeDir)).map(_.getPath.getName)
    val manifests = names.flatMap(versionOf("manifest-v", _, ".json"))
    if (manifests.isEmpty) {
      if (names.exists(versionOf("v=", _).nonEmpty)) throw snapshotLayout(storeDir)
      None
    } else {
      val v = manifests.max
      commitPointer(spark, storeDir, v) // heal the pointer for later readers
      Some(v)
    }
  }

  /** `<prefix><digits><suffix>` → the digits as a version. */
  private[graft] def versionOf(prefix: String, name: String, suffix: String = ""): Option[Int] = {
    val d = name.stripPrefix(prefix).stripSuffix(suffix)
    if (name.startsWith(prefix) && name.endsWith(suffix) && d.nonEmpty && d.forall(_.isDigit))
      Some(d.toInt)
    else None
  }

  private def snapshotLayout(storeDir: String) =
    new IllegalStateException(s"$storeDir: snapshot-layout store; rebuild it")

  /** The live table: one multi-path parquet scan over every bucket's base
    * + pending delta directories, with the schema recorded in `meta.json`
    * (no inference, no listing job).
    */
  def readAuto(spark: SparkSession, storeDir: String): DataFrame = {
    val v = currentVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"$storeDir: no committed store version"))
    val manifest = readManifest(spark, storeDir, v)
    val deltas = readDeltas(spark, storeDir, v)
    scan(spark, schemaOf(storeDir, readBucketMeta(spark, storeDir)),
      bucketPaths(storeDir, manifest, deltas, manifest.keySet ++ deltas.keySet))
  }

  // ---- commit files ------------------------------------------------------

  /** Single-step atomic pointer swap: tmp write + rename-with-OVERWRITE
    * (FileContext — one atomic operation on HDFS and the local fs alike).
    * No delete-then-rename window, so no state in which the pointer is
    * missing mid-commit; [[recoverVersion]] covers filesystems where the
    * rename is not atomic.
    */
  private[graft] def commitPointer(spark: SparkSession, storeDir: String, next: Int): Unit =
    writeAtomic(spark, storeDir, "current", next.toString)

  /** Writes `storeDir/name` via tmp + atomic rename-with-OVERWRITE: the
    * pointer, the manifests, `meta.json` and every other small commit file
    * (replication `state.txt`, `compacted.txt`, BM25 stats) are never seen
    * half-written, and a re-run after a crash replaces what the crashed
    * attempt left. The one atomic small-file writer in the code base.
    */
  private[graft] def writeAtomic(spark: SparkSession, storeDir: String, name: String,
      body: String): Unit = {
    val f = fs(spark, storeDir)
    val tmp = new Path(storeDir, s"$name.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      f.getUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(new Path(storeDir, name)),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  // ---- bucket-layout metadata --------------------------------------------

  /** Bucket layout pinned at store creation. Two writers hashing the same
    * key with different bucket counts (or differently-ordered bucket
    * columns) would keep the same id live in two buckets — so the layout
    * is store state, not a per-call argument.
    *
    * `schema` is the store's row schema: every column any live bucket
    * file holds, in first-written order. It only grows, and it is
    * widened BEFORE the bucket data that adds a column lands, so it
    * always covers every live file; a file written before a column
    * existed reads that column as null (the `allowMissingColumns` growth
    * of the changeset stores). None only for a store whose meta predates
    * schema recording.
    */
  private[graft] case class BucketMeta(numBuckets: Int, bucketBy: Seq[String],
      schema: Option[StructType] = None)

  private[graft] def readBucketMeta(spark: SparkSession,
      storeDir: String): Option[BucketMeta] = {
    val f = fs(spark, storeDir)
    val p = new Path(storeDir, "meta.json")
    if (!f.exists(p)) return None
    val in = f.open(p)
    val txt = try new String(in.readAllBytes(), UTF_8) finally in.close()
    // the schema is the last entry: the layout keys parse from the text
    // before it, so no column name can shadow them
    val schemaKey = ",\"schema\":"
    val at = txt.indexOf(schemaKey)
    val layout = if (at < 0) txt else txt.substring(0, at)
    val nb = "\"numBuckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(layout)
      .map(_.group(1).toInt)
    val by = "\"bucketBy\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(layout)
      .map(_.group(1)).getOrElse("")
      .split(',').map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq
    val schema = if (at < 0) None else Some(DataType.fromJson(
      txt.substring(at + schemaKey.length).trim.stripSuffix("}")).asInstanceOf[StructType])
    nb.map(BucketMeta(_, by, schema))
  }

  private def writeBucketMeta(spark: SparkSession, storeDir: String,
      m: BucketMeta): Unit =
    writeAtomic(spark, storeDir, "meta.json",
      s"""{"numBuckets":${m.numBuckets},"bucketBy":[${
        m.bucketBy.map("\"" + _ + "\"").mkString(",")}]${
        m.schema.fold("")(s => ",\"schema\":" + s.json)}}""")

  /** Effective (numBuckets, bucket columns) of a write: the pinned meta
    * when present — the caller's arguments only size a store that does
    * not exist yet.
    */
  private def resolveBuckets(meta: Option[BucketMeta], numBuckets: Int,
      bucketBy: Seq[String], keys: Seq[String]): (Int, Seq[String]) =
    meta match {
      case Some(m) =>
        (m.numBuckets, if (m.bucketBy.nonEmpty) m.bucketBy else keys)
      case None =>
        (numBuckets, if (bucketBy.nonEmpty) bucketBy else keys)
    }

  /** Pins the layout on a store's first write and widens the recorded
    * schema by the columns `batch` adds — called BEFORE any bucket data
    * of the write lands (see [[BucketMeta]]). A store with no committed
    * version starts over from the batch's schema: whatever a crashed
    * first attempt recorded describes no live file. Returns the schema
    * the store's files are read with from now on.
    */
  private def pinMeta(spark: SparkSession, storeDir: String,
      meta: Option[BucketMeta], committed: Boolean, nb: Int,
      bucketBy: Seq[String], batch: StructType): StructType = {
    val have = if (committed) Some(schemaOf(storeDir, meta)) else None
    val schema = have.fold(batch)(h =>
      StructType(h.fields ++ batch.fields.filterNot(f => h.fieldNames.contains(f.name))))
    val pinned = meta.getOrElse(BucketMeta(nb, bucketBy))
      .copy(schema = Some(schema))
    if (!meta.contains(pinned)) writeBucketMeta(spark, storeDir, pinned)
    schema
  }

  /** Row schema of a committed bucketed store's files, from its `meta.json`. */
  private def schemaOf(storeDir: String, meta: Option[BucketMeta]): StructType =
    meta.flatMap(_.schema).getOrElse(
      throw new IllegalStateException(s"$storeDir: meta.json records no row " +
        "schema (the store predates schema recording); rebuild the store"))

  /** The live files of a bucketed store as one parquet scan with the
    * recorded schema: no schema-inference job, and no listing job
    * (GraftSession lists a store's directories on the driver).
    */
  private def scan(spark: SparkSession, schema: StructType,
      paths: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  /** Distinct bucket ids among `df`'s rows in one job with no shuffle:
    * each task returns the distinct ids of its own partition.
    */
  private def bucketsOf(df: DataFrame, bucket: Column): Set[Int] = {
    import df.sparkSession.implicits._
    df.select(bucket).as[Int].mapPartitions(_.toSet.iterator).collect().toSet
  }

  // ---- manifest ----------------------------------------------------------

  /** bucket id → live BASE version for store version `v`. */
  def readManifest(spark: SparkSession, storeDir: String, v: Int): Map[Int, Int] = {
    // flat {"<bucket>":<version>,...} — parsed without a JSON dependency;
    // the digits-only key regex skips the "<bucket>#d" delta entries
    "\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(manifestText(spark, storeDir, v))
      .map(m => m.group(1).toInt -> m.group(2).toInt).toMap
  }

  /** bucket id → pending delta versions (ascending) for store version `v`
    * — the `"<bucket>#d":[dv,…]` entries written by [[appendBucketed]].
    */
  def readDeltas(spark: SparkSession, storeDir: String, v: Int): Map[Int, Seq[Int]] =
    "\"(\\d+)#d\"\\s*:\\s*\\[([\\d,]*)\\]".r
      .findAllMatchIn(manifestText(spark, storeDir, v))
      .map(m => m.group(1).toInt ->
        m.group(2).split(',').filter(_.nonEmpty).map(_.toInt).toSeq)
      .filter(_._2.nonEmpty).toMap

  /** A committed version always has its manifest (it lands before the
    * pointer), so a missing one whose `v=<N>` snapshot directory exists
    * is a retired snapshot-layout store — checked only once the open has
    * failed, so a healthy read pays no extra I/O.
    */
  private def manifestText(spark: SparkSession, storeDir: String, v: Int): String = {
    val f = fs(spark, storeDir)
    val in =
      try f.open(new Path(storeDir, s"manifest-v$v.json"))
      catch {
        case e: java.io.FileNotFoundException =>
          throw if (f.exists(new Path(storeDir, s"v=$v"))) snapshotLayout(storeDir) else e
      }
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private[graft] def writeManifest(spark: SparkSession, storeDir: String, v: Int,
      m: Map[Int, Int], deltas: Map[Int, Seq[Int]] = Map.empty): Unit = {
    val base = m.toSeq.sorted.map { case (b, bv) => s""""$b":$bv""" }
    val dEntries = deltas.filter(_._2.nonEmpty).toSeq.sortBy(_._1)
      .map { case (b, ds) => s""""$b#d":[${ds.sorted.mkString(",")}]""" }
    writeAtomic(spark, storeDir, s"manifest-v$v.json",
      (base ++ dEntries).mkString("{", ",", "}"))
  }

  /** Every live directory (base + deltas) of the given buckets. */
  private def bucketPaths(storeDir: String, manifest: Map[Int, Int],
      deltas: Map[Int, Seq[Int]], buckets: Iterable[Int]): Seq[String] =
    buckets.toSeq.sorted.flatMap { b =>
      manifest.get(b).map(bv => s"$storeDir/b=$b/v=$bv").toSeq ++
        deltas.getOrElse(b, Nil).sorted.map(d => s"$storeDir/b=$b/d=$d")
    }

  /** Bucket-pruned point lookup: reads ONLY the buckets that can contain
    * the given keys (the store analog of the reference UpdateStore's
    * `nodes(Set<Long> ids)` KV gets). `keyDf` columns must match the
    * upsert `keys` (or the pinned `bucketBy` subset) in name, order and
    * type — the bucket id is the same `pmod(hash(bucketBy), numBuckets)`
    * the writer used, with both taken from `meta.json` and computed
    * engine-side so the hash function is identical by construction. `keys`
    * only stands in for a store pinned without `bucketBy`. k distinct keys
    * open about min(numBuckets, k) buckets: a lookup of fewer keys than
    * buckets skips the rest, a 300-key minutely diff at 64 buckets opens
    * them all. `keyDf` is consumed twice (the bucket collect here and the
    * caller's key join), so a caller materializes it once. Returns None
    * for an empty/untouched store.
    */
  def readBucketsFor(spark: SparkSession, storeDir: String, keyDf: DataFrame,
      keys: Seq[String]): Option[DataFrame] =
    currentVersion(spark, storeDir).flatMap { v =>
      val manifest = readManifest(spark, storeDir, v)
      val deltas = readDeltas(spark, storeDir, v)
      val meta = readBucketMeta(spark, storeDir)
      val schema = schemaOf(storeDir, meta)
      val m = meta.get // schemaOf fails for a store without meta
      val bCols = if (m.bucketBy.nonEmpty) m.bucketBy else keys
      val touched = bucketsOf(keyDf, pmod(hash(bCols.map(col): _*), lit(m.numBuckets)))
      val paths = bucketPaths(storeDir, manifest, deltas, touched)
      if (paths.isEmpty) None else Some(scan(spark, schema, paths))
    }

  /** Bucket-pruned upsert: only batch-touched buckets are read, merged
    * (broadcast anti-join, latest-wins) and rewritten; the new manifest
    * carries every untouched bucket's entry forward unchanged. Commit
    * order: schema in `meta.json` → bucket data → manifest → pointer (the
    * single commit point) — a crash leaves the previous version live and
    * the re-run deletes and rewrites the orphan bucket dirs (idempotent).
    * An empty batch onto a store holding data commits nothing and
    * returns the live version.
    *
    * `batch` is read three times (the touched-bucket collect, the
    * broadcast key set and the merge write): a caller whose batch has a
    * costly lineage materializes it once.
    */
  /** @param bucketBy optional bucket-defining column subset (default: the
    *                  identity `keys`). A PROPER subset lets readers prune
    *                  on a lookup key coarser than row identity (e.g. LSH
    *                  (band, bkey) buckets holding many doc rows each) —
    *                  but then a row whose bucketBy VALUES change between
    *                  upserts lands in a new bucket while the stale copy
    *                  in the old bucket goes undetected, so proper-subset
    *                  stores are append-only-or-immutable by contract
    *                  (cf. the IvfIndex locator for the mutable case).
    */
  def upsertBucketed(spark: SparkSession, storeDir: String, batch: DataFrame,
      keys: Seq[String], numBuckets: Int = 64,
      bucketBy: Seq[String] = Seq.empty): Int = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(bucketBy.isEmpty || bucketBy.forall(keys.contains),
      "bucketBy must be a subset of keys")
    val f = fs(spark, storeDir)
    f.mkdirs(new Path(storeDir))
    val prev = currentVersion(spark, storeDir)
    val meta = readBucketMeta(spark, storeDir)
    val (nb, bCols) = resolveBuckets(meta, numBuckets, bucketBy, keys)
    val bCol = pmod(hash(bCols.map(col): _*), lit(nb))
    val prevManifest = prev.map(readManifest(spark, storeDir, _)).getOrElse(Map.empty)
    val prevDeltas = prev.map(readDeltas(spark, storeDir, _)).getOrElse(Map.empty)
    // the touched-bucket set scopes the merge read and is the emptiness
    // test; a NEW store has nothing to merge, so skip the collect job
    // entirely (every store lifecycle pays this on its initial build)
    val hasData = prevManifest.nonEmpty || prevDeltas.nonEmpty
    val touched = if (hasData) bucketsOf(batch, bCol) else Set.empty[Int]
    if (hasData && touched.isEmpty) return prev.get
    val schema = pinMeta(spark, storeDir, meta, prev.nonEmpty, nb, bucketBy, batch.schema)
    val next = prev.getOrElse(0) + 1
    val batchB = batch.withColumn("_b", bCol)

    val merged = {
      // base + pending deltas of every touched bucket fold into the new
      // base (an upsert is the layout's compaction moment for its buckets)
      val livePaths = bucketPaths(storeDir,
        prevManifest.filter(t => touched(t._1)),
        prevDeltas.filter(t => touched(t._1)),
        touched.filter(b => prevManifest.contains(b) || prevDeltas.contains(b)))
      if (livePaths.isEmpty) batchB
      // an anti-join needs only key existence: duplicate keys on the
      // broadcast side change nothing, so the key set skips a distinct
      else scan(spark, schema, livePaths)
        .join(broadcast(batch.select(keys.map(col): _*)), keys, "left_anti")
        .withColumn("_b", bCol)
        .unionByName(batchB, allowMissingColumns = true)
    }
    val written = stageAndInstall(spark, storeDir, merged, next, "v")

    writeManifest(spark, storeDir, next,
      prevManifest ++ written.map(_ -> next).toMap,
      prevDeltas -- written)
    commitPointer(spark, storeDir, next)
    gcBucketed(spark, storeDir, prev, written.toSet,
      written.map(_ -> next).toMap, Map.empty)
    next
  }

  /** Appends a batch as per-bucket DELTA files without reading or
    * rewriting ANY existing bucket data — O(batch) I/O even when the
    * batch hashes into every bucket (the LSH-index daily-append case,
    * where a read-merge-rewrite upsert would rewrite the whole
    * accumulated store). Only for append-only row sets: delta rows are
    * unioned at read time, never key-merged, so a key that repeats
    * across appends would surface twice — latest-wins writers must use
    * [[upsertBucketed]] (which folds pending deltas for the buckets it
    * touches). [[compactBucketed]] bounds the per-bucket file fan-in.
    * The first write to a new store lands as the base version.
    */
  def appendBucketed(spark: SparkSession, storeDir: String, batch: DataFrame,
      keys: Seq[String], numBuckets: Int = 64,
      bucketBy: Seq[String] = Seq.empty): Int = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(bucketBy.isEmpty || bucketBy.forall(keys.contains),
      "bucketBy must be a subset of keys")
    val prev = currentVersion(spark, storeDir)
    if (prev.isEmpty)
      return upsertBucketed(spark, storeDir, batch, keys, numBuckets, bucketBy)
    val meta = readBucketMeta(spark, storeDir)
    val (nb, bCols) = resolveBuckets(meta, numBuckets, bucketBy, keys)
    pinMeta(spark, storeDir, meta, committed = true, nb, bucketBy, batch.schema)
    val next = prev.get + 1
    val batchB = batch.withColumn("_b", pmod(hash(bCols.map(col): _*), lit(nb)))
    val written = stageAndInstall(spark, storeDir, batchB, next, "d")

    val prevManifest = readManifest(spark, storeDir, prev.get)
    val prevDeltas = readDeltas(spark, storeDir, prev.get)
    val newDeltas = prevDeltas ++ written.map(b =>
      b -> (prevDeltas.getOrElse(b, Seq.empty) :+ next))
    writeManifest(spark, storeDir, next, prevManifest, newDeltas)
    commitPointer(spark, storeDir, next)
    gcBucketed(spark, storeDir, prev, written.toSet, Map.empty,
      written.map(b => b -> newDeltas(b)).toMap)
    next
  }

  /** Folds base + pending deltas into a fresh base for every bucket with
    * at least `minDeltas` deltas — the periodic maintenance keeping read
    * fan-in bounded while appends stay O(batch). Untouched buckets carry
    * forward byte-for-byte. Rows are unioned (append-only contract), so
    * a compacted store reads identically to the uncompacted one. Returns
    * the committed version — unchanged if no bucket met the threshold.
    */
  def compactBucketed(spark: SparkSession, storeDir: String,
      minDeltas: Int = 4): Int = {
    val prev = currentVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"$storeDir: no committed store version"))
    val manifest = readManifest(spark, storeDir, prev)
    val deltas = readDeltas(spark, storeDir, prev)
    val toCompact = deltas.filter(_._2.size >= minDeltas).keySet
    if (toCompact.isEmpty) return prev
    val next = prev + 1
    val schema = schemaOf(storeDir, readBucketMeta(spark, storeDir))
    // per-bucket reads tagged with their bucket id: no re-hash needed (and
    // none possible — bucketBy columns may be a derived subset), and the
    // union is k bucket-scoped scans, k = buckets being compacted
    val merged = toCompact.toSeq.sorted.map { b =>
      scan(spark, schema, bucketPaths(storeDir, manifest, deltas, Seq(b)))
        .withColumn("_b", lit(b))
    }.reduce(_.unionByName(_))
    val written = stageAndInstall(spark, storeDir, merged, next, "v")

    writeManifest(spark, storeDir, next,
      manifest ++ written.map(_ -> next).toMap,
      deltas -- written)
    commitPointer(spark, storeDir, next)
    gcBucketed(spark, storeDir, Some(prev), written.toSet,
      written.map(_ -> next).toMap, Map.empty)
    next
  }

  /** Stages `df` (carrying `_b`) partitioned by bucket and installs each
    * written bucket dir as `b=<i>/<kind>=<next>` (delete-then-rename: a
    * crashed previous attempt may have left the target behind). Returns
    * the written bucket ids. `_b` is any integer bucket id: the key hash
    * here, the nearest-centroid cell in [[graft.operators.IvfIndex]].
    */
  private[graft] def stageAndInstall(spark: SparkSession, storeDir: String,
      df: DataFrame, next: Int, kind: String): Seq[Int] = {
    val f = fs(spark, storeDir)
    val staging = s"$storeDir/stage-v$next"
    // cluster by bucket before the partitioned write: every bucket hash
    // lands in exactly one shuffle partition, so each written bucket dir
    // holds one file (without it every input task emits a file into every
    // bucket dir — tasks × buckets small files, and the store read cost
    // turns file-open dominated). The task count is AQE's, sized to the
    // data: a write touches about min(numBuckets, distinct keys) buckets
    // — all 64 for a 300-change minutely diff (one OsmUpdater step
    // installs about 510 store files; 511 measured) — and a diff-sized
    // write should not pay one task per bucket for that.
    df.repartition(col("_b"))
      .write.mode("overwrite").partitionBy("_b").parquet(staging)
    val written = f.listStatus(new Path(staging))
      .map(_.getPath.getName).filter(_.startsWith("_b="))
      .map(_.stripPrefix("_b=").toInt).toSeq
    written.foreach { b =>
      val target = new Path(s"$storeDir/b=$b/$kind=$next")
      f.mkdirs(target.getParent)
      if (f.exists(target)) f.delete(target, true)
      if (!f.rename(new Path(s"$staging/_b=$b"), target))
        throw new java.io.IOException(s"$storeDir: bucket $b install failed")
    }
    f.delete(new Path(staging), true)
    written
  }

  /** GC after a commit: inside every bucket the new version touched,
    * delete `v=`/`d=` dirs referenced by neither the PREVIOUS manifest
    * (which stays readable for mid-flight readers) nor the new one; then
    * drop manifests older than prev. `newBase`/`newDeltas` describe what
    * the just-committed manifest references for the touched buckets.
    */
  private[graft] def gcBucketed(spark: SparkSession, storeDir: String,
      prev: Option[Int], buckets: Set[Int], newBase: Map[Int, Int],
      newDeltas: Map[Int, Seq[Int]]): Unit = prev.foreach { p =>
    val f = fs(spark, storeDir)
    val prevManifest = readManifest(spark, storeDir, p)
    val prevDeltas = readDeltas(spark, storeDir, p)
    buckets.foreach { b =>
      val keepV = prevManifest.get(b).toSet ++ newBase.get(b)
      val keepD = prevDeltas.getOrElse(b, Seq.empty).toSet ++
        newDeltas.getOrElse(b, Seq.empty)
      f.listStatus(new Path(s"$storeDir/b=$b")).foreach { st =>
        val n = st.getPath.getName
        val stale = versionOf("v=", n).exists(!keepV(_)) ||
          versionOf("d=", n).exists(!keepD(_))
        if (stale) f.delete(st.getPath, true)
      }
    }
    f.listStatus(new Path(storeDir)).foreach { st =>
      if (versionOf("manifest-v", st.getPath.getName, ".json").exists(_ < p))
        f.delete(st.getPath, false)
    }
  }
}
