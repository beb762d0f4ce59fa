package graft.streaming

import graft.operators.{Dedup, WindowIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous exact-substring ingest — the streaming face of the
  * persisted window-fingerprint index ([[graft.operators.WindowIndex]] /
  * `dedup_window_store`): each micro-batch of documents is windowed and
  * md5-fingerprinted, PROBED against the index (≥50-token duplicate-span
  * pairs land in a per-batch parquet results feed), then APPENDED as
  * per-bucket delta files — a day of streaming equals the daily batch
  * increment, pair for pair and index row for index row.
  *
  * The [[LshIngestStream]] discipline end to end: `foreachBatch` because
  * the index append is a transactional side effect with its own commit
  * protocol; at-least-once replay absorbed by the ID GATE
  * ([[WindowIndex.indexedIds]] — decidable from exactly the buckets the
  * probe opens anyway), so a redelivered batch finds its ids present,
  * appends nothing, and its re-emitted pairs overwrite the same
  * `batch_id=N` feed directory. Per trigger, I/O is O(batch); a periodic
  * [[WindowIndex.compact]] bounds per-bucket read fan-in.
  */
object W50IngestStream {

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
    // windowed once, consumed by gate + probe + append
    val rows = Dedup.windowRows(batch.select("doc_id", "text"))
      .localCheckpoint(true)
    try {
      val fresh = rows
        .join(broadcast(WindowIndex.indexedIds(spark, indexDir, rows)),
          Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      try {
        if (!fresh.isEmpty) {
          WindowIndex.probeRows(spark, indexDir, fresh)
            .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
          WindowIndex.appendRows(spark, fresh, indexDir, numBuckets)
          if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
            WindowIndex.compact(spark, indexDir)
        }
      } finally fresh.unpersist(blocking = false)
    } finally rows.unpersist(blocking = false)
  }

  /** The accumulated duplicate-span feed across all batches. */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.option("basePath", pairsDir).parquet(pairsDir)
}
