package graft

import graft.operators.{ChangesetCatchup, ReplicationCatchup}
import graft.sources.ChangesetStore
import graft.streaming.ChangesetStream

/** Streaming changeset replication: the watched-directory stream must
  * produce the same store and bookmark as the sequenced batch catch-up
  * over the same diff files, survive a stop/restart on the checkpoint,
  * and never rewind the bookmark on replay.
  */
class ChangesetStreamSpec extends SparkSpec {

  private def diff(body: String): String =
    s"""<?xml version="1.0"?>
       |<osm version="0.6">
       |$body
       |</osm>""".stripMargin

  private val diff1 = diff(
    """ <changeset id="100" created_at="2024-01-21T00:00:00Z" closed_at="" open="true" uid="9" user="bob" num_changes="0"/>""")
  private val diff2 = diff(
    """ <changeset id="200" created_at="2024-01-21T00:01:00Z" closed_at="2024-01-21T00:01:40Z" open="false" uid="5" user="amy" num_changes="3"/>""")
  private val diff3 = diff(
    """ <changeset id="100" created_at="2024-01-21T00:00:00Z" closed_at="2024-01-21T00:02:00Z" open="false" uid="9" user="bob" num_changes="7"/>""")

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def write(dir: String, seq: Int, xml: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, s"$seq.osm"), xml)

  private def storeRows(storeDir: String) =
    ChangesetStore.readAuto(spark, storeDir)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("closed_at"),
        r.getAs[Boolean]("open"), r.getAs[Long]("num_changes"))).toSeq

  test("stream == batch catch-up over the same diffs; restart resumes on the checkpoint") {
    val diffs = tmp("graft-cs-stream-diffs")
    val streamStore = tmp("graft-cs-stream-store")
    val batchStore = tmp("graft-cs-batch-store")
    write(diffs, 1, diff1)
    write(diffs, 2, diff2)

    val q = ChangesetStream.start(spark, diffs, streamStore)
    q.processAllAvailable()
    q.stop()

    ChangesetCatchup.catchUp(spark, diffs, batchStore)
    assert(storeRows(streamStore) === storeRows(batchStore))
    assert(ReplicationCatchup.readState(streamStore).map(_.sequenceNumber) === Some(2L))

    // diff 3 arrives while the stream is down: the restarted incarnation
    // picks up ONLY the new file from the checkpoint and converges again
    write(diffs, 3, diff3)
    val q2 = ChangesetStream.start(spark, diffs, streamStore)
    q2.processAllAvailable()
    q2.stop()
    ChangesetCatchup.catchUp(spark, diffs, batchStore)
    assert(storeRows(streamStore) === storeRows(batchStore))
    assert(storeRows(streamStore).find(_._1 == 100L).map(_._3) === Some(false))
    assert(ReplicationCatchup.readState(streamStore).map(_.sequenceNumber) === Some(3L))
  }

  test("stream onto a dump-loaded store == batch catch-up onto the same dump") {
    val diffs = tmp("graft-cs-stream-dump-diffs")
    write(diffs, 1, diff1)
    write(diffs, 2, diff2)
    write(diffs, 3, diff3)
    // the dump predates every diff: cs 50 closed, cs 200 still open (diff
    // 2 closes it). Dump rows carry no `seq`.
    val dump = java.nio.file.Paths.get(tmp("graft-cs-stream-dump"), "changesets.osm")
    java.nio.file.Files.writeString(dump, diff(
      """ <changeset id="50" created_at="2024-01-20T10:00:00Z" closed_at="2024-01-20T11:00:00Z" open="false" uid="3" user="cy" num_changes="4"/>
        | <changeset id="200" created_at="2024-01-20T23:00:00Z" open="true" uid="5" user="amy" num_changes="1"/>""".stripMargin))
    def loaded(): String = {
      val store = tmp("graft-cs-stream-dump-store")
      Cli.main(Array("changesets", dump.toString, store))
      store
    }
    val streamStore = loaded()
    val batchStore = loaded()

    val q = ChangesetStream.start(spark, diffs, streamStore)
    try q.processAllAvailable() finally q.stop()
    ChangesetCatchup.catchUp(spark, diffs, batchStore)

    assert(storeRows(streamStore) === storeRows(batchStore))
    assert(storeRows(streamStore) === Seq(
      (50L, "2024-01-20T11:00:00Z", false, 4L),
      (100L, "2024-01-21T00:02:00Z", false, 7L),
      (200L, "2024-01-21T00:01:40Z", false, 3L)))
    assert(ReplicationCatchup.readState(streamStore).map(_.sequenceNumber) === Some(3L))
    assert(ReplicationCatchup.readState(batchStore).map(_.sequenceNumber) === Some(3L))
  }

  test("one micro-batch spanning multiple diffs folds latest-wins by sequence") {
    val diffs = tmp("graft-cs-stream-diffs2")
    val store = tmp("graft-cs-stream-store2")
    // all three files land BEFORE the stream starts: one micro-batch must
    // still resolve cs 100 to its diff-3 closure
    write(diffs, 1, diff1)
    write(diffs, 2, diff2)
    write(diffs, 3, diff3)
    val q = ChangesetStream.start(spark, diffs, store)
    q.processAllAvailable()
    q.stop()
    assert(storeRows(store) === Seq(
      (100L, "2024-01-21T00:02:00Z", false, 7L),
      (200L, "2024-01-21T00:01:40Z", false, 3L)))
  }

  test("a late lower-seq file cannot rewind a colliding id's newer row") {
    val diffs = tmp("graft-cs-stream-diffs4")
    val store = tmp("graft-cs-stream-store4")
    // diff 5 closes cs 100; then diff 4 — an OLDER file for the SAME id —
    // surfaces in a later trigger. Latest-wins-by-arrival would reopen
    // the changeset while the bookmark stays at 5; the store's per-row
    // seq must refuse the rewind.
    write(diffs, 5, diff3)
    val q = ChangesetStream.start(spark, diffs, store)
    q.processAllAvailable()
    q.stop()
    assert(storeRows(store) === Seq((100L, "2024-01-21T00:02:00Z", false, 7L)))

    write(diffs, 4, diff1)
    val q2 = ChangesetStream.start(spark, diffs, store)
    q2.processAllAvailable()
    q2.stop()
    assert(storeRows(store) === Seq((100L, "2024-01-21T00:02:00Z", false, 7L)),
      "the seq-4 open row must not overwrite the seq-5 closure")
    assert(ReplicationCatchup.readState(store).map(_.sequenceNumber) === Some(5L))
  }

  test("grouped 000/000/NNN.osm diff layout is discovered and sequenced") {
    val diffs = tmp("graft-cs-stream-diffs5")
    val store = tmp("graft-cs-stream-store5")
    val grouped = java.nio.file.Paths.get(diffs, "000", "000")
    java.nio.file.Files.createDirectories(grouped)
    java.nio.file.Files.writeString(grouped.resolve("042.osm"), diff2)
    val q = ChangesetStream.start(spark, diffs, store)
    q.processAllAvailable()
    q.stop()
    assert(storeRows(store) === Seq((200L, "2024-01-21T00:01:40Z", false, 3L)))
    assert(ReplicationCatchup.readState(store).map(_.sequenceNumber) === Some(42L))
  }

  test("bookmark never rewinds below an already-applied sequence") {
    val diffs = tmp("graft-cs-stream-diffs3")
    val store = tmp("graft-cs-stream-store3")
    write(diffs, 5, diff1)
    val q = ChangesetStream.start(spark, diffs, store)
    q.processAllAvailable()
    q.stop()
    assert(ReplicationCatchup.readState(store).map(_.sequenceNumber) === Some(5L))
    // a LOWER-sequence file arriving late (out-of-order delivery) upserts
    // its rows but must not move the bookmark backwards
    write(diffs, 4, diff2)
    val q2 = ChangesetStream.start(spark, diffs, store)
    q2.processAllAvailable()
    q2.stop()
    assert(ReplicationCatchup.readState(store).map(_.sequenceNumber) === Some(5L))
    assert(storeRows(store).map(_._1) === Seq(100L, 200L))
  }
}
