package graft.operators

import graft.sources.{ChangesetStore, OsmXml}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import java.util.Properties

/** Replication catch-up sequencing — the ReplicationManager.java /
  * ContributionStateManager.java analog: apply N minutely `.osc` diffs IN
  * SEQUENCE ORDER from a local replication directory onto a persistent
  * store, with a `state.txt` sequence bookmark (the reference's
  * ReplicationState.java Properties format) persisted after every applied
  * diff so a crash resumes exactly where it left off.
  *
  * Store layout (all under one `storeDir`):
  *  - `state.txt` — `sequenceNumber` + `timestamp` Properties, written
  *    atomically ([[ChangesetStore.writeAtomic]]) AFTER a diff's data
  *    lands; it is the single commit point.
  *  - `events/batch=N/` — the applied diff's events, append-only: one
  *    parquet batch per sequence number, never rewritten. Readers filter
  *    `batch <= state.sequenceNumber`, so a half-applied diff (data written,
  *    state not yet bumped) is invisible and the re-run simply overwrites
  *    it — idempotent crash-resume without a WAL.
  *  - `out/seq=N/` — the per-diff emitted contributions (rebuilt rows
  *    only), the analog of the reference's per-sequence
  *    `N.opc.parquet` output (ContributionStateManager.java:177).
  *
  * Scale: nothing here rewrites the store. Each step appends one minutely
  * batch and re-windows ONLY diff-touched entities
  * ([[Replication.updateContributions]]: broadcast anti/semi joins against
  * the tiny touched-key set). The 100 TB history accumulates as immutable
  * parquet batches; `batch` is a partition column, so the
  * `batch <= sequenceNumber` cut is partition pruning, not a scan filter.
  */
object ReplicationCatchup {

  final case class State(sequenceNumber: Long, timestamp: String)

  private val eventSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts_us", LongType),
    StructField("event_id", LongType), StructField("event_type", StringType),
    StructField("props", StringType), StructField("value", DoubleType)))
  private val eventCols = eventSchema.fieldNames.toSeq

  // ---- state.txt (ReplicationState.java Properties contract) -----------

  def readState(storeDir: String): Option[State] = {
    val p = Paths.get(storeDir, "state.txt")
    if (!Files.exists(p)) None
    else {
      val props = new Properties()
      val in = Files.newInputStream(p)
      try props.load(in)
      finally in.close()
      Some(State(props.getProperty("sequenceNumber").toLong,
        Option(props.getProperty("timestamp")).getOrElse("")))
    }
  }

  def writeState(spark: SparkSession, storeDir: String, st: State): Unit = {
    val props = new Properties()
    props.put("sequenceNumber", st.sequenceNumber.toString)
    props.put("timestamp", st.timestamp)
    // Properties.store escapes every non-ASCII character: the text is
    // ASCII, whatever charset writes it
    val out = new java.io.ByteArrayOutputStream()
    props.store(out, null)
    ChangesetStore.writeAtomic(spark, storeDir, "state.txt",
      out.toString(java.nio.charset.StandardCharsets.ISO_8859_1))
  }

  // ---- diff discovery --------------------------------------------------

  /** Available diffs as (sequence, path), ascending. Accepts both the
    * reference's grouped layout `000/000/042.osc`
    * (ReplicationState.sequenceNumberAsPath — digits split 3/3/3 across
    * directories) and the flat `42.osc` form. `ext` selects the diff kind:
    * `.osc` (contribution diffs) or `.osm` (changeset diffs — the
    * planet replication/changesets layout [[ChangesetCatchup]] consumes).
    */
  def listDiffs(replDir: String, ext: String = ".osc"): Seq[(Long, String)] = {
    val root = Paths.get(replDir)
    if (!Files.exists(root)) return Seq.empty
    val stream = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(ext) && Files.isRegularFile(p))
        .flatMap { p =>
          val digits = root.relativize(p).toString
            .stripSuffix(ext).replace(java.io.File.separator, "")
          if (digits.nonEmpty && digits.forall(_.isDigit))
            Some(digits.toLong -> p.toString)
          else None
        }
        .toSeq.sortBy(_._1)
    } finally stream.close()
  }

  /** The diffs a catch-up applies next: the run of sequences `from + 1,
    * from + 2, …` present in `dir` (`ext` as in [[listDiffs]]), at most
    * `maxSteps` of them. The run stops at the first gap — sequence numbers
    * must advance by exactly 1, like the reference's
    * `Flux.range(local + 1, steps)` fetch: a gap means diffs are missing
    * upstream, and applying past it would silently skip history.
    */
  def pending(dir: String, ext: String, from: Long, maxSteps: Int): Seq[(Long, String)] =
    listDiffs(dir, ext).filter(_._1 > from).zipWithIndex
      .takeWhile { case ((seq, _), i) => seq == from + i + 1 }
      .map(_._1).take(maxSteps)

  // ---- store reads -----------------------------------------------------

  /** Event history with `batch <= upTo` — the committed prefix, read from
    * an EXPLICIT path list (`events/batch=1..upTo`). A whole-directory scan
    * with a post-filter would list uncommitted dirs too: a crash mid-write
    * of `events/batch=upTo+1` can leave truncated part files whose footer
    * read aborts schema inference before any filter applies, breaking the
    * idempotent-resume contract. Uncommitted data must never be in the
    * read path at all.
    */
  private def readEvents(spark: SparkSession, storeDir: String, upTo: Long): DataFrame = {
    // the empty committed prefix is empty even when a compacted base
    // exists (e.g. a lost state.txt must not resurrect folded history)
    if (upTo <= 0L)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], eventSchema)
    val base = compactedUpTo(storeDir)
    require(upTo >= base,
      s"$storeDir: batches <= $base are compacted; cannot read prefix $upTo")
    val basePath = Paths.get(storeDir, "events", s"base=$base")
    val committed =
      (if (base > 0 && Files.exists(basePath)) Seq(basePath) else Seq.empty) ++
        ((base + 1) to upTo)
          .map(i => Paths.get(storeDir, "events", s"batch=$i"))
          .filter(Files.exists(_))
    if (committed.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], eventSchema)
    else
      spark.read.parquet(committed.map(_.toString): _*)
        .select(eventCols.map(col): _*)
  }

  /** The full committed contribution table — identical to a one-shot
    * rebuild over every applied event (the catch-up invariant the spec
    * asserts).
    */
  def currentContributions(spark: SparkSession, storeDir: String): DataFrame = {
    val upTo = readState(storeDir).map(_.sequenceNumber).getOrElse(0L)
    Replication.versionChains(readEvents(spark, storeDir, upTo))
  }

  // ---- compaction ------------------------------------------------------

  /** Compaction floor: batches ≤ this are folded into `events/base=<k>`. */
  def compactedUpTo(storeDir: String): Long = {
    val p = Paths.get(storeDir, "compacted.txt")
    if (!Files.exists(p)) 0L
    else new String(Files.readAllBytes(p)).trim.toLong
  }

  /** Folds committed batches `(compacted, k]` into one `base=k` artifact —
    * the operational necessity the reference gets from RocksDB compaction:
    * a year of minutely diffs is half a million `batch=N` directories, and
    * file listing alone would dwarf the data read. Commit order: merged
    * base dir → `compacted.txt` (tmp + atomic rename, the single commit
    * point) → best-effort delete of folded batch dirs. A crash before the
    * marker leaves the old layout fully readable; after it, readers use
    * the new base and surviving batch dirs are dead weight the next
    * compact() sweep removes. Only batches ≤ the committed sequence may
    * fold (uncommitted data must never enter the base).
    */
  def compact(spark: SparkSession, storeDir: String): Long = {
    val st = readState(storeDir).map(_.sequenceNumber).getOrElse(0L)
    val already = compactedUpTo(storeDir)
    if (st <= already) {
      // nothing new to fold, but a crash after a previous fold's marker
      // may have left unreachable dirs — sweep them now
      if (already > 0) sweepUnreachable(storeDir, already)
      return already
    }
    val events = readEvents(spark, storeDir, st)
    val target = Paths.get(storeDir, "events", s"base=$st")
    events.write.mode("overwrite").parquet(target.toString)
    ChangesetStore.writeAtomic(spark, storeDir, "compacted.txt", st.toString)
    sweepUnreachable(storeDir, st)
    st
  }

  /** Deletes batch dirs ≤ the committed floor and bases below it — all
    * unreachable once `compacted.txt` points at `floor`.
    */
  private def sweepUnreachable(storeDir: String, floor: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val eventsDir = Paths.get(storeDir, "events")
    if (!Files.exists(eventsDir)) return
    val stream = Files.list(eventsDir)
    val entries = try stream.iterator().asScala.toSeq finally stream.close()
    entries.foreach { p =>
      val n = p.getFileName.toString
      val stale =
        (n.startsWith("batch=") && n.stripPrefix("batch=").forall(_.isDigit) &&
          n.stripPrefix("batch=").toLong <= floor) ||
          (n.startsWith("base=") && n.stripPrefix("base=").forall(_.isDigit) &&
            n.stripPrefix("base=").toLong < floor)
      if (stale) deleteRecursively(p)
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(p)) {
      val stream = Files.list(p)
      val children = try stream.iterator().asScala.toSeq finally stream.close()
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }

  // ---- catch-up loop ---------------------------------------------------

  /** Applies the [[pending]] diffs in sequence order, at most `maxSteps`
    * of them (the reference's `setMaxSize` bound). Returns the number
    * applied.
    *
    * Per step, in commit order: per-diff output → event batch → state.txt.
    * A crash anywhere before the state write leaves the bookmark on the
    * previous sequence; the re-run overwrites the partial data and commits
    * it — every step is idempotent.
    */
  def catchUp(spark: SparkSession, replDir: String, storeDir: String,
      maxSteps: Int = Int.MaxValue): Long = {
    Files.createDirectories(Paths.get(storeDir))
    var st = readState(storeDir).getOrElse(State(0L, ""))
    val steps = pending(replDir, ".osc", st.sequenceNumber, maxSteps)
    steps.foreach { case (seq, path) =>
      val diff = Replication.oscAsEvents(OsmXml.readOsc(spark, path))
        .select(eventCols.map(col): _*)
      val base = readEvents(spark, storeDir, st.sequenceNumber)
      val updated = Replication.updateContributions(base, diff)
      updated.filter(col("rebuilt")).drop("rebuilt")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$storeDir/out/seq=$seq")
      diff.coalesce(1).write.mode("overwrite")
        .parquet(s"$storeDir/events/batch=$seq")
      val ts = diff.agg(max("ts_us")).collect().head
      st = State(seq, if (ts.isNullAt(0)) st.timestamp else ts.getLong(0).toString)
      writeState(spark, storeDir, st)
    }
    steps.size.toLong
  }
}
