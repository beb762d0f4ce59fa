package graft

import graft.operators.{Changesets, ChangesetCatchup, ReplicationCatchup}
import graft.sources.ChangesetStore
import org.apache.spark.sql.functions._

/** Changeset replication sequencing (ChangesetStateManager.java analog):
  * ordered changeset-diff application with a persisted bookmark, starting-
  * sequence estimation from the store's max timestamp, idempotent
  * crash-resume, and the open-changeset refresh path.
  */
class ChangesetCatchupSpec extends SparkSpec {

  private def diff(body: String): String =
    s"""<?xml version="1.0"?>
       |<osm version="0.6">
       |$body
       |</osm>""".stripMargin

  // cs 100 opens in diff 1 and closes in diff 3; cs 200 lives in diff 2;
  // cs 300 opens in diff 3 (still open)
  private val diff1 = diff(
    """ <changeset id="100" created_at="2024-01-21T00:00:00Z" closed_at="" open="true" uid="9" user="bob" num_changes="0">
      |  <tag k="created_by" v="iD"/><tag k="comment" v="add #roads in #berlin"/>
      | </changeset>""".stripMargin)
  private val diff2 = diff(
    """ <changeset id="200" created_at="2024-01-21T00:01:00Z" closed_at="2024-01-21T00:01:40Z" open="false" uid="5" user="amy" num_changes="3">
      |  <tag k="created_by" v="JOSM"/>
      | </changeset>""".stripMargin)
  private val diff3 = diff(
    """ <changeset id="100" created_at="2024-01-21T00:00:00Z" closed_at="2024-01-21T00:02:00Z" open="false" uid="9" user="bob" num_changes="7"
      |            comments_count="4" min_lon="13.1" min_lat="52.3" max_lon="13.6" max_lat="52.7">
      |  <tag k="created_by" v="iD"/><tag k="comment" v="add #roads in #berlin"/>
      |  <tag k="hashtags" v="#hotosm-x #roads"/>
      | </changeset>
      | <changeset id="300" created_at="2024-01-21T00:02:30Z" closed_at="" open="true" uid="5" user="amy" num_changes="0"/>""".stripMargin)

  private def writeDiffs(dir: java.nio.file.Path, diffs: (Int, String)*): Unit =
    diffs.foreach { case (seq, xml) =>
      java.nio.file.Files.writeString(dir.resolve(s"$seq.osm"), xml)
    }

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def storeRows(storeDir: String) =
    ChangesetStore.readAuto(spark, storeDir)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("closed_at"),
        r.getAs[Boolean]("open"), r.getAs[Long]("num_changes"))).toSeq

  test("3 sequential diffs apply in order; later diffs overwrite by id") {
    val repl = tmp("graft-cc-repl")
    val store = tmp("graft-cc-store")
    writeDiffs(java.nio.file.Paths.get(repl), 1 -> diff1, 2 -> diff2, 3 -> diff3)

    val n = ChangesetCatchup.catchUp(spark, repl, store)
    assert(n === 3L)
    assert(ReplicationCatchup.readState(store).map(_.sequenceNumber) === Some(3L))
    // cs 100's diff-3 closure must have replaced its diff-1 open row
    assert(storeRows(store) === Seq(
      (100L, "2024-01-21T00:02:00Z", false, 7L),
      (200L, "2024-01-21T00:01:40Z", false, 3L),
      (300L, "", true, 0L)))
    // the bbox extent + comments_count parsed from diff 3 carry through
    // the batch fold and the store schema; extent-less rows stay null
    val byId = ChangesetStore.readAuto(spark, store).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId(100L).getAs[Double]("min_lon") === 13.1)
    assert(byId(100L).getAs[Double]("max_lat") === 52.7)
    assert(byId(100L).getAs[Long]("comments_count") === 4L)
    assert(byId(300L).isNullAt(byId(300L).fieldIndex("min_lon")))
  }

  test("within-batch fold: one upsert batch still resolves to the last diff's row") {
    val repl = tmp("graft-cc-repl2")
    val store = tmp("graft-cc-store2")
    writeDiffs(java.nio.file.Paths.get(repl), 1 -> diff1, 2 -> diff2, 3 -> diff3)
    // batchSize > #diffs: all three fold into ONE readBatch/upsert
    ChangesetCatchup.catchUp(spark, repl, store, batchSize = 500)
    assert(storeRows(store).find(_._1 == 100L).map(_._3) === Some(false))
  }

  test("maxSteps bounds a run; the next run resumes from the bookmark") {
    val repl = tmp("graft-cc-repl3")
    val store = tmp("graft-cc-store3")
    writeDiffs(java.nio.file.Paths.get(repl), 1 -> diff1, 2 -> diff2, 3 -> diff3)

    assert(ChangesetCatchup.catchUp(spark, repl, store, maxSteps = 1, batchSize = 1) === 1L)
    assert(ReplicationCatchup.readState(store).map(_.sequenceNumber) === Some(1L))
    assert(storeRows(store) === Seq((100L, "", true, 0L)))

    assert(ChangesetCatchup.catchUp(spark, repl, store) === 2L)
    assert(storeRows(store).size === 3)
  }

  test("crash between upsert and bookmark: replay is a latest-wins no-op") {
    val repl = tmp("graft-cc-repl4")
    val store = tmp("graft-cc-store4")
    writeDiffs(java.nio.file.Paths.get(repl), 1 -> diff1, 2 -> diff2, 3 -> diff3)
    ChangesetCatchup.catchUp(spark, repl, store, batchSize = 1)
    val before = storeRows(store)
    // simulate a crash that lost the last two bookmark writes but kept the
    // upserted data: rewind state.txt to sequence 1 and re-run
    ReplicationCatchup.writeState(spark, store, ReplicationCatchup.State(1L, ""))
    assert(ChangesetCatchup.catchUp(spark, repl, store, batchSize = 1) === 2L)
    assert(storeRows(store) === before)
    assert(ReplicationCatchup.readState(store).map(_.sequenceNumber) === Some(3L))
  }

  test("sequence gap stops the catch-up before the gap") {
    val repl = tmp("graft-cc-repl5")
    val store = tmp("graft-cc-store5")
    writeDiffs(java.nio.file.Paths.get(repl), 1 -> diff1, 2 -> diff2, 5 -> diff3)
    assert(ChangesetCatchup.catchUp(spark, repl, store) === 2L)
    assert(ReplicationCatchup.readState(store).map(_.sequenceNumber) === Some(2L))
    assert(storeRows(store).map(_._1) === Seq(100L, 200L))
  }

  test("no bookmark: starting sequence estimated from the store's max timestamp") {
    val repl = tmp("graft-cc-repl6")
    val store = tmp("graft-cc-store6")
    writeDiffs(java.nio.file.Paths.get(repl), 1 -> diff1, 2 -> diff2, 3 -> diff3)
    // bulk-load the store (the dump-ingest path: one upsert of rows
    // without `seq`) with the content of diffs 1-2, but write no
    // state.txt — the reference's "no local state detected" branch
    val bulk = spark.createDataFrame(Seq(
      (100L, "2024-01-21T00:00:00Z", "", true, 9L, "bob", 0L, Map("created_by" -> "iD")),
      (200L, "2024-01-21T00:01:00Z", "2024-01-21T00:01:40Z", false, 5L, "amy", 3L, Map("created_by" -> "JOSM"))))
      .toDF("id", "created_at", "closed_at", "open", "uid", "user", "num_changes", "tags")
    ChangesetStore.upsertBucketed(spark, store, bulk, Seq("id"))

    // store max ts = diff-2's max → estimate resumes at sequence 3
    assert(ChangesetCatchup.estimateStartSequence(spark, repl, store) === 2L)
    assert(ChangesetCatchup.catchUp(spark, repl, store) === 1L)
    assert(ReplicationCatchup.readState(store).map(_.sequenceNumber) === Some(3L))
    // diff 3 upserted onto the bulk-loaded store: cs 100 closed, cs 300 added
    assert(storeRows(store) === Seq(
      (100L, "2024-01-21T00:02:00Z", false, 7L),
      (200L, "2024-01-21T00:01:40Z", false, 3L),
      (300L, "", true, 0L)))
  }

  test("open-changeset refresh: candidates listed, closures upserted out of band") {
    val repl = tmp("graft-cc-repl7")
    val store = tmp("graft-cc-store7")
    writeDiffs(java.nio.file.Paths.get(repl), 1 -> diff1, 2 -> diff2, 3 -> diff3)
    ChangesetCatchup.catchUp(spark, repl, store)

    // the getOpenChangesetsOlderThanTwoHours analog: cs 300 is open and
    // created before the cutoff
    val open = ChangesetCatchup.openOlderThan(spark, store, "2024-01-21T03:00:00Z")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(open === Seq(300L))

    val closed = spark.createDataFrame(Seq(
      (300L, "2024-01-21T00:02:30Z", "2024-01-21T01:00:00Z", false, 5L, "amy", 4L,
        Map.empty[String, String])))
      .toDF("id", "created_at", "closed_at", "open", "uid", "user", "num_changes", "tags")
    ChangesetCatchup.refreshUnclosed(spark, store, closed)
    assert(storeRows(store).find(_._1 == 300L) ===
      Some((300L, "2024-01-21T01:00:00Z", false, 4L)))
    // the sequence bookmark is untouched by the out-of-band refresh
    assert(ReplicationCatchup.readState(store).map(_.sequenceNumber) === Some(3L))
  }

  test("caught-up store serves changeset structs to the enrichment join") {
    val repl = tmp("graft-cc-repl8")
    val store = tmp("graft-cc-store8")
    writeDiffs(java.nio.file.Paths.get(repl), 1 -> diff1, 2 -> diff2, 3 -> diff3)
    ChangesetCatchup.catchUp(spark, repl, store)

    val contribs = spark.createDataFrame(Seq((1L, 100L), (2L, 200L)))
      .toDF("event_id", "changeset")
    val enriched = Changesets.enrichWithChangesetDb(
      contribs, ChangesetStore.readAuto(spark, store))
      .orderBy("event_id")
      .select("event_id", "cs_editor", "cs_num_changes", "cs_hashtags")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    // a continuously-updated deployment must serve the POST-closure struct;
    // hashtags union the dedicated `hashtags` tag with the comment
    // (hotosm-x only in the former, roads in both — distinct folds it)
    assert(enriched.toSeq === Seq(
      (1L, "iD", 7L, "berlin,hotosm-x,roads"),
      (2L, "JOSM", 3L, "")))
  }
}
