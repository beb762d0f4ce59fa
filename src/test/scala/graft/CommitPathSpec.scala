package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source scan for rules that must keep one definition. Each row names a
  * pattern, the files that own it, and single lines allowed elsewhere; a
  * match anywhere else in `src/main` is a second copy of the rule, and
  * this spec names the line that adds it.
  */
class CommitPathSpec extends AnyFunSuite {

  private val mainDir = Paths.get("src", "main", "scala")

  private case class Rule(name: String, pattern: Regex, owners: Set[String],
      allowedLines: Set[(String, String)], fix: String)

  private val rules = Seq(
    // every commit-point rename goes through ChangesetStore (its
    // `writeAtomic` small-file writer and its bucket install); GeoParquet's
    // footer stamp swaps a rewritten data file in place and is not a
    // commit point
    Rule("renames and atomic moves appear only in ChangesetStore",
      """ATOMIC_MOVE|Files\.move\b|\.rename\(""".r,
      Set("graft/sources/ChangesetStore.scala"),
      Set("graft/sources/GeoParquet.scala" -> "if (!fs.delete(path, false) || !fs.rename(tmp, path))"),
      "commit through ChangesetStore.writeAtomic / stageAndInstall instead"),
    // the CREATION branch of the contribution-type decision: the Column
    // rule (Contributions.contribType) and the row-level Scala form of the
    // streaming chain. The DuckDB oracle texts ('CREATION' in SQL) are the
    // independent reference and are not matched.
    Rule("the contribution-type CREATION branch appears only in Contributions.contribType",
      """(\bwhen\(|\bif\b).*"CREATION"""".r,
      Set("graft/operators/Contributions.scala", "graft/streaming/ContributionStream.scala"),
      Set.empty,
      "classify through Contributions.contribType instead"),
    // the "latest version at or before ts" theta filter: the as-of lookup
    // has one implementation, the linear union-and-carry in AsofJoin
    Rule("as-of lookups resolve only through AsofJoin",
      """ts"\) <= col\(""".r,
      Set("graft/operators/AsofJoin.scala"),
      Set.empty,
      "resolve through AsofJoin.asof / Contributions.refPositions"),
    // a replication diff is applied by OsmUpdater.applyDiff alone: the
    // sequenced catch-up and the watched-directory stream are the only
    // readers of `.osc` files
    Rule("replication diffs are read only by OsmUpdater and OsmUpdateStream",
      """OsmXml\.(readOsc|streamOsc)\(""".r,
      Set("graft/operators/OsmUpdater.scala", "graft/streaming/OsmUpdateStream.scala"),
      Set.empty,
      "apply diffs through OsmUpdater.catchUp / OsmUpdateStream instead"),
    // relation rings are built by RelationGeometry.build alone: the batch
    // assembly and the update path both call it, so a caller that strings
    // the ring steps together itself is a second ring builder
    Rule("relation ring steps run only inside RelationGeometry.build",
      """RelationGeometry\.(stitch|classify|dedupeWays|removeSpikes)\(""".r,
      Set("graft/operators/RelationGeometry.scala"),
      Set.empty,
      "build relation rings through RelationGeometry.build instead"),
    // GeoParquet.write puts the `geo` footer in each file as it writes it;
    // the post-write footer rewrite is kept for re-stamping only, so no
    // code path in src/main calls it
    Rule("the footer re-stamp has no caller in src/main",
      """stampFooters\(""".r,
      Set.empty,
      Set("graft/sources/GeoParquet.scala" -> "def stampFooters(spark: org.apache.spark.sql.SparkSession, outDir: String,"),
      "write the footer through GeoParquet.write instead"),
    // one metrics path: every job, stage and query counter of a run (the
    // bench layers, the CLI progress lines) comes from graft.Metrics
    Rule("Spark listeners are registered only by Metrics",
      """extends SparkListener\b|addSparkListener\(""".r,
      Set("graft/Metrics.scala"),
      Set.empty,
      "read run metrics through graft.Metrics instead"))

  private lazy val files: List[Path] = {
    val s = Files.walk(mainDir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def rel(p: Path) = mainDir.relativize(p).toString.replace('\\', '/')

  for (rule <- rules) test(rule.name) {
    assert(Files.isDirectory(mainDir), s"run from the repository root: $mainDir missing")
    rule.owners.foreach(o => assert(files.exists(f => rel(f) == o), s"owner $o missing"))
    val offenders = for {
      f <- files if !rule.owners(rel(f))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if rule.pattern.findFirstIn(line).nonEmpty && !rule.allowedLines((rel(f), line.trim))
    } yield s"${rel(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, s"${rule.fix}:\n" + offenders.mkString("\n"))
  }
}
