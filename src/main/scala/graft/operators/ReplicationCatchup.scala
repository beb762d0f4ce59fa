package graft.operators

import graft.sources.ChangesetStore
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.util.Properties

/** Replication sequencing shared by the three catch-ups
  * ([[OsmUpdater.catchUp]], [[ChangesetCatchup.catchUp]] and
  * [[graft.streaming.ChangesetStream]]) — the sequence half of the
  * reference's ReplicationManager.java / ContributionStateManager.java:
  *
  *  - diff discovery: [[listDiffs]] finds the numbered diffs of a local
  *    replication directory (grouped `000/000/042.osc` or flat `42.osc`),
  *    and [[pending]] picks the strictly consecutive run a catch-up
  *    applies next;
  *  - the `state.txt` bookmark: `sequenceNumber` + `timestamp` Properties
  *    (the reference's ReplicationState.java format), written atomically
  *    ([[ChangesetStore.writeAtomic]]) after a diff's data lands. It is
  *    each catch-up's single commit point, so a crash before it re-runs
  *    the diff on resume.
  *
  * What a diff does to a store belongs to the catch-up that applies it.
  */
object ReplicationCatchup {

  final case class State(sequenceNumber: Long, timestamp: String)

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
}
