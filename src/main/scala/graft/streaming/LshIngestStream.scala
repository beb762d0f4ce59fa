package graft.streaming

import graft.operators.{Dedup, LshIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One document arriving on the ingest stream. */
final case class DocArrival(doc_id: Long, text: String)

/** Continuous near-dup ingest — the streaming face of the persisted LSH
  * dedup index ([[graft.operators.LshIndex]] / `dedup_incr_store`): each
  * micro-batch of documents is minhash-signed, PROBED against the index
  * (candidate pairs with jaccard estimates land in a per-batch parquet
  * results feed), then APPENDED as per-bucket delta files — a day of
  * streaming equals the daily batch increment, pair for pair and index
  * row for index row.
  *
  * `foreachBatch` is the hook for the same reason as [[ChangesetStream]]:
  * the index append is a transactional side effect with its own commit
  * protocol (staged deltas + manifest + atomic pointer). At-least-once
  * replay is absorbed by an ID GATE rather than latest-wins: a doc's band
  * rows are complete within the buckets its own band keys hash to, so
  * "already indexed" is decidable from exactly the buckets the probe
  * opens anyway ([[LshIndex.indexedIds]]) — a redelivered batch finds its
  * ids present, appends nothing, and its re-emitted pairs overwrite the
  * same `batch_id=N` feed directory they wrote the first time.
  *
  * Scale: per trigger, I/O is O(batch) — the gate and the probe open only
  * the batch's hashed buckets, the append writes delta files without
  * reading any base — and a periodic [[LshIndex.compact]] (here every
  * `compactEvery` batches) keeps per-bucket read fan-in bounded.
  */
object LshIngestStream {

  def start(spark: SparkSession, docs: DataFrame, indexDir: String,
      pairsDir: String, checkpointDir: String, numBuckets: Int = 64,
      compactEvery: Int = 16): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          processBatch(spark, batch, batchId, indexDir, pairsDir,
            numBuckets, compactEvery)
      }
      .start()

  /** One trigger's work, exposed for the stream==batch parity spec. */
  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, indexDir: String, pairsDir: String,
      numBuckets: Int, compactEvery: Int): Unit = {
    // signed once, consumed by gate + probe + append
    val sigs = Dedup.signaturesOf(spark, batch.select("doc_id", "text"))
      .localCheckpoint(true)
    try {
      val fresh = sigs
        .join(broadcast(LshIndex.indexedIds(spark, indexDir, sigs)),
          Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      try {
        if (!fresh.isEmpty) {
          // the batch_id arrives via partition-directory inference on
          // read — writing it as a data column too would clash with the
          // key=value path
          LshIndex.probe(spark, indexDir, fresh)
            .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
          LshIndex.append(spark, fresh, indexDir, numBuckets)
          if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
            LshIndex.compact(spark, indexDir)
        }
      } finally fresh.unpersist(blocking = false)
    } finally sigs.unpersist(blocking = false)
  }

  /** The accumulated candidate-pair feed across all batches. */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.option("basePath", pairsDir).parquet(pairsDir)
}
