package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, LshIndex}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming LSH ingest: a drained stream of daily batches must leave the
  * same index and emit the same candidate pairs as the batch lifecycle,
  * and an at-least-once redelivery must change nothing.
  */
class LshIngestStreamSpec extends SparkSpec {

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
    df.select("doc_a", "doc_b", "jaccard_est", "is_cross").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 8), r.getBoolean(3)))
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
    def sigsOf(ds: Array[DocArrival]) =
      Dedup.signaturesOf(spark, ds.toSeq.toDF("doc_id", "text"))

    // batch lifecycle (the reference computation)
    val idxB = tmp("lsh-ingest-batch")
    LshIndex.build(spark, sigsOf(corpus), idxB, numBuckets = 8)
    val p1 = normPairs(LshIndex.probe(spark, idxB, sigsOf(day1)))
    LshIndex.append(spark, sigsOf(day1), idxB, numBuckets = 8)
    val p2 = normPairs(LshIndex.probe(spark, idxB, sigsOf(day2)))
    LshIndex.append(spark, sigsOf(day2), idxB, numBuckets = 8)

    // streaming lifecycle over the same index seed
    val idxS = tmp("lsh-ingest-stream")
    LshIndex.build(spark, sigsOf(corpus), idxS, numBuckets = 8)
    val pairsDir = tmp("lsh-ingest-pairs")
    val input = MemoryStream[DocArrival]
    val q = LshIngestStream.start(spark, input.toDS().toDF(), idxS, pairsDir,
      tmp("lsh-ingest-ckpt"), numBuckets = 8)
    input.addData(day1.toSeq: _*)
    q.processAllAvailable()
    input.addData(day2.toSeq: _*)
    q.processAllAvailable()
    q.stop()

    val feed = LshIngestStream.pairs(spark, pairsDir)
    assert(feed.columns.contains("batch_id"), "feed must carry the batch id")
    val batches = feed.select("batch_id").distinct()
      .collect().map(_.get(0).toString.toLong).sorted // partition col infers as int
    assert(batches.length === 2, s"two triggers, got ${batches.toSeq}")
    assert(normPairs(feed.filter(col("batch_id") === batches(0))) === p1)
    assert(normPairs(feed.filter(col("batch_id") === batches(1))) === p2)
    // index parity: same band rows row-for-row
    def indexRows(idx: String) =
      LshIndex.rowsFor(spark, idx, sigsOf(docs))
        .select("band", "bkey", "doc_id").collect()
        .map(r => (r.get(0).toString, r.get(1).toString, r.get(2).toString))
        .sorted.toSeq
    assert(indexRows(idxS) === indexRows(idxB))
  }

  test("at-least-once redelivery appends nothing and leaves the store untouched") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val corpusSigs = Dedup.signaturesOf(spark, docs.filter(col("doc_id") % 3 === 0))
    val batch = docs.filter(col("doc_id") % 3 === 1)

    val idx = tmp("lsh-replay-idx")
    val pairsDir = tmp("lsh-replay-pairs")
    LshIndex.build(spark, corpusSigs, idx, numBuckets = 8)
    LshIngestStream.processBatch(spark, batch, 0L, idx, pairsDir,
      numBuckets = 8, compactEvery = 0)
    val after1 = files(idx)

    // the replayed trigger re-signs the same docs: the id gate must find
    // every id indexed, skip the probe AND the append entirely
    LshIngestStream.processBatch(spark, batch, 1L, idx, pairsDir,
      numBuckets = 8, compactEvery = 0)
    assert(files(idx) === after1, "replay must not write to the index")
    val feedDirs = new java.io.File(pairsDir).list().toSeq.filter(_.startsWith("batch_id="))
    assert(feedDirs === Seq("batch_id=0"), s"replay must emit no new pairs, got $feedDirs")
  }
}
