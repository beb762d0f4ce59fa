package graft

import graft.operators.ReplicationCatchup

/** Replication sequencing shared by the catch-ups: diff discovery over the
  * reference's replication directory layouts
  * (ReplicationState.sequenceNumberAsPath).
  */
class ReplicationCatchupSpec extends SparkSpec {

  private def osc(body: String): String =
    s"""<?xml version="1.0"?>
       |<osmChange version="0.6">
       |$body
       |</osmChange>""".stripMargin

  private val diff1 = osc(
    """ <create>
      |  <node id="1" version="1" timestamp="2024-01-21T00:00:00Z" changeset="7" uid="9" user="bob" lat="52.5" lon="13.4"><tag k="k" v="1"/></node>
      | </create>""".stripMargin)
  private val diff2 = osc(
    """ <create>
      |  <node id="3" version="1" timestamp="2024-01-21T00:01:00Z" changeset="8" uid="9" user="bob" lat="50.9" lon="6.9"/>
      | </create>""".stripMargin)

  test("grouped sequence paths (000/000/042.osc) are discovered and ordered") {
    val repl = java.nio.file.Files.createTempDirectory("graft-cu-repl4")
    val d = repl.resolve("000/000")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.writeString(d.resolve("002.osc"), diff2)
    java.nio.file.Files.writeString(d.resolve("001.osc"), diff1)
    assert(ReplicationCatchup.listDiffs(repl.toString).map(_._1) === Seq(1L, 2L))
  }
}
