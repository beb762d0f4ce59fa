package graft.streaming

import graft.operators.{ChangesetCatchup, ReplicationCatchup}
import graft.sources.{ChangesetStore, OsmXml}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One parsed changeset-diff row in flight, tagged with its diff's
  * sequence number (recovered from the watched-file path).
  */
final case class CsDiffRow(seq: Long, id: Long, created_at: String,
  closed_at: String, open: Boolean, uid: Long, user: String,
  num_changes: Long, comments_count: Long, min_lon: Option[Double],
  min_lat: Option[Double], max_lon: Option[Double], max_lat: Option[Double],
  tags: Map[String, String])

/** Continuous changeset replication — the streaming face of
  * [[graft.operators.ChangesetCatchup]]: a watched replication directory
  * of minutely changeset `.osm` files becomes a file stream; each
  * micro-batch folds to the latest row per changeset id (highest diff
  * sequence wins, the same within-batch fold the sequenced catch-up uses)
  * and upserts into the SAME ChangesetStore layout, advancing the same
  * `state.txt` bookmark — so batch catch-up and continuous streaming
  * produce identical stores over the same diff sequence.
  *
  * `foreachBatch` is the right hook: the store upsert is a transactional
  * side effect with its own commit protocol (bucketed artifacts + atomic
  * pointer), and latest-wins-by-id idempotence absorbs Structured
  * Streaming's at-least-once batch replay after a crash — a re-delivered
  * batch rewrites the store to the same state and the bookmark only ever
  * advances. Checkpointed file-source progress gives exactly-once file
  * discovery on top.
  */
object ChangesetStream {

  /** @param numBuckets bucket count for a store this stream CREATES; an
    *                    existing store's pinned meta.json layout always
    *                    wins, so a stream continuing a catch-up store
    *                    with a non-default count adopts it safely.
    */
  def start(spark: SparkSession, diffDir: String, storeDir: String,
      numBuckets: Int = 64): StreamingQuery = {
    import spark.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
    val raw = spark.readStream
      .format("text")
      .option("wholetext", "true")
      // the grouped 000/000/042.osm layout sequenceOf supports must also
      // be DISCOVERED — the file source is non-recursive by default
      .option("recursiveFileLookup", "true")
      .load(diffDir)
      .select(col("value"), col("_metadata.file_path").as("path"))
      .as[(String, String)]
    val rows = raw.flatMap { case (xml, path) =>
      ChangesetCatchup.sequenceOf(path) match {
        case Some(seq) => OsmXml.parseChangesets(xml).map(r =>
          CsDiffRow(seq, r.id, r.created_at, r.closed_at, r.open, r.uid,
            r.user, r.num_changes, r.comments_count, r.min_lon, r.min_lat,
            r.max_lon, r.max_lat, r.tags))
        case None => Seq.empty
      }
    }
    rows.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.localCheckpoint(true) // parsed once, used thrice
          val folded = ChangesetCatchup.foldBatch(b)
          // cross-batch sequencing: the fold orders WITHIN a micro-batch,
          // but a lower-seq file can surface in a LATER trigger (watched
          // directories make no ordering promise). Store rows carry the
          // seq that wrote them, so the batch drops any row an already-
          // stored higher-seq row outranks — a late diff can never rewind
          // data the bookmark says is applied. The stored-seq lookup is
          // bucket-pruned: only the buckets the batch's ids hash into are
          // opened, batch-scale I/O at any store size. A store without a
          // `seq` column (bulk-loaded from a dump) holds no sequenced row
          // yet, so nothing in it outranks the batch.
          val ids = folded.select("id")
          val winners = ChangesetStore
            .readBucketsFor(spark, storeDir, ids, Seq("id")) match {
            case Some(stored) if stored.columns.contains("seq") =>
              val storedSeq = stored
                .join(broadcast(ids), Seq("id"), "left_semi")
                .groupBy("id").agg(max("seq").as("_sseq"))
              folded.join(broadcast(storedSeq), Seq("id"), "left")
                .filter(col("_sseq").isNull || col("seq") > col("_sseq"))
                .drop("_sseq")
            case _ => folded
          }
          if (!winners.isEmpty)
            ChangesetStore.upsertBucketed(spark, storeDir, winners, Seq("id"),
              numBuckets)
          // bookmark parity with the sequenced catch-up: monotonic advance
          // only (a replayed batch must never rewind the sequence)
          val agg = b.agg(max("seq"),
            max(greatest(col("created_at"), col("closed_at")))).collect().head
          val seq = agg.getLong(0)
          val ts = if (agg.isNullAt(1)) "" else agg.getString(1)
          val cur = ReplicationCatchup.readState(storeDir)
          if (cur.forall(_.sequenceNumber < seq))
            ReplicationCatchup.writeState(spark, storeDir,
              ReplicationCatchup.State(seq,
                if (ts > cur.map(_.timestamp).getOrElse("")) ts
                else cur.map(_.timestamp).getOrElse("")))
        }
      }
      .option("checkpointLocation", s"$storeDir/stream-checkpoint")
      .start()
  }
}
