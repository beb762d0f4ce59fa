package graft.streaming

import graft.SparkSpec
import graft.operators.WindowIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming exact-substring ingest: a drained stream of daily batches
  * must emit the same duplicate-span pairs and leave the same index as
  * the batch probe+append lifecycle, and an at-least-once redelivery
  * must change nothing.
  */
class W50IngestStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def files(dir: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(base)
    try s.filter(java.nio.file.Files.isRegularFile(_)).toArray.map { p0 =>
      val p = p0.asInstanceOf[java.nio.file.Path]
      base.relativize(p).toString -> java.nio.file.Files.size(p)
    }.toMap
    finally s.close()
  }

  private def normPairs(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b", "n_win", "est_span_toks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(p => (p._1, p._2)).toSeq

  test("drained stream matches the batch probe+append lifecycle") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => DocArrival(r.getLong(0), r.getString(1)))
    val corpus = docs.filter(_.doc_id % 3 == 0)
    val day1 = docs.filter(_.doc_id % 3 == 1)
    val day2 = docs.filter(_.doc_id % 3 == 2)
    def dfOf(ds: Array[DocArrival]) = ds.toSeq.toDF("doc_id", "text")

    // batch lifecycle (the reference computation)
    val idxB = tmp("w50-ingest-batch")
    WindowIndex.build(spark, dfOf(corpus), idxB, numBuckets = 8)
    val p1 = normPairs(WindowIndex.probe(spark, idxB, dfOf(day1)))
    WindowIndex.append(spark, dfOf(day1), idxB, numBuckets = 8)
    val p2 = normPairs(WindowIndex.probe(spark, idxB, dfOf(day2)))
    WindowIndex.append(spark, dfOf(day2), idxB, numBuckets = 8)
    assert(p1.nonEmpty && p2.nonEmpty,
      "fixture must exercise cross-day span pairs")

    // streaming lifecycle over the same index seed
    val idxS = tmp("w50-ingest-stream")
    WindowIndex.build(spark, dfOf(corpus), idxS, numBuckets = 8)
    val pairsDir = tmp("w50-ingest-pairs")
    val input = MemoryStream[DocArrival]
    val q = W50IngestStream.start(spark, input.toDS().toDF(), idxS, pairsDir,
      tmp("w50-ingest-ckpt"), numBuckets = 8)
    input.addData(day1.toSeq: _*)
    q.processAllAvailable()
    input.addData(day2.toSeq: _*)
    q.processAllAvailable()
    q.stop()

    val feed = W50IngestStream.pairs(spark, pairsDir)
    val batches = feed.select("batch_id").distinct()
      .collect().map(_.get(0).toString.toLong).sorted
    assert(batches.length === 2, s"two triggers, got ${batches.toSeq}")
    assert(normPairs(feed.filter(col("batch_id") === batches(0))) === p1)
    assert(normPairs(feed.filter(col("batch_id") === batches(1))) === p2)
  }

  test("at-least-once redelivery appends nothing and leaves the store untouched") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 3 === 1)

    val idx = tmp("w50-replay-idx")
    val pairsDir = tmp("w50-replay-pairs")
    WindowIndex.build(spark, corpus, idx, numBuckets = 8)
    W50IngestStream.processBatch(spark, batch, 0L, idx, pairsDir,
      numBuckets = 8, compactEvery = 0)
    val after1 = files(idx)

    // the replayed trigger re-windows the same docs: the id gate must
    // find every id indexed, skip the probe AND the append entirely
    W50IngestStream.processBatch(spark, batch, 1L, idx, pairsDir,
      numBuckets = 8, compactEvery = 0)
    assert(files(idx) === after1, "replay must not write to the index")
    val feedDirs = new java.io.File(pairsDir).list().toSeq.filter(_.startsWith("batch_id="))
    assert(feedDirs === Seq("batch_id=0"), s"replay must emit no new pairs, got $feedDirs")
  }
}
