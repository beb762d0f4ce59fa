package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source scan: every commit-point rename in the program goes through
  * `sources/ChangesetStore` (its `writeAtomic` small-file writer and its
  * bucket install). A hand-rolled tmp + move elsewhere is a second commit
  * protocol, and this spec names the line that adds one.
  */
class CommitPathSpec extends AnyFunSuite {

  private val mainDir = Paths.get("src", "main", "scala")

  private val renameCall = """ATOMIC_MOVE|Files\.move\b|\.rename\(""".r

  /** (file, line text) pairs allowed outside ChangesetStore: GeoParquet's
    * footer stamp swaps a rewritten data file in place; it is not a
    * commit point.
    */
  private val allowed = Set(
    "graft/sources/GeoParquet.scala" -> "if (!fs.delete(path, false) || !fs.rename(tmp, path))")

  test("renames and atomic moves appear only in ChangesetStore") {
    assert(Files.isDirectory(mainDir), s"run from the repository root: $mainDir missing")
    val files = {
      val s = Files.walk(mainDir)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.endsWith(Paths.get("graft", "sources", "ChangesetStore.scala"))))
    def rel(p: Path) = mainDir.relativize(p).toString.replace('\\', '/')
    val offenders = for {
      f <- files if rel(f) != "graft/sources/ChangesetStore.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if renameCall.findFirstIn(line).nonEmpty && !allowed((rel(f), line.trim))
    } yield s"${rel(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "commit through ChangesetStore.writeAtomic / stageAndInstall instead:\n" +
        offenders.mkString("\n"))
  }
}
