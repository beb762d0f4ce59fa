package graft

import graft.operators.{Dedup, LshIndex}
import org.apache.spark.sql.functions._

/** Persisted LSH dedup index: probe from the artifact alone (corpus
  * deleted between build and probe) and the rolling daily-increment
  * lifecycle (append yesterday's batch, probe today's against it).
  */
class LshIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 8), r.getBoolean(3))).toSeq

  test("probe reads only the artifact: corpus table deleted between build and probe") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val staged = tmp("graft-lsh-corpus")
    docs.filter(col("doc_id") % 5 =!= 4).write.mode("overwrite").parquet(s"$staged/docs")
    val corpusSigs = Dedup.signaturesOf(spark, spark.read.parquet(s"$staged/docs"))
      .localCheckpoint(true)
    val batchSigs = Dedup.signaturesOf(spark, docs.filter(col("doc_id") % 5 === 4))

    val idx = tmp("graft-lsh-idx")
    LshIndex.build(spark, corpusSigs, idx, numBuckets = 8)
    val first = pairs(LshIndex.probe(spark, idx, batchSigs))
    assert(first.nonEmpty)
    assert(first.exists(_._4), "some pair must reach into the corpus")

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staged))
    assert(pairs(LshIndex.probe(spark, idx, batchSigs)) === first)
  }

  test("rolling increments: yesterday's appended batch is corpus for today's probe") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = Dedup.signaturesOf(spark, docs).localCheckpoint(true)
    // day 0 corpus, day 1 batch, day 2 batch — disjoint thirds
    val corpus = sigs.filter(col("doc_id") % 3 === 0)
    val day1 = sigs.filter(col("doc_id") % 3 === 1)
    val day2 = sigs.filter(col("doc_id") % 3 === 2)

    val idx = tmp("graft-lsh-idx2")
    LshIndex.build(spark, corpus, idx, numBuckets = 8)

    // the daily append must be O(batch): no base file is read-merged or
    // rewritten even though a diverse batch hashes into every band bucket
    // (the pre-delta design rewrote the whole accumulated store per day)
    val before = files(idx)
    LshIndex.append(spark, day1, idx, numBuckets = 8)
    val after = files(idx)
    before.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz), s"append must not rewrite base file $p")
    }
    assert((after -- before.keySet).keySet.forall(_.contains("d=")),
      "append may only add delta files")

    // today's probe must see day-1 docs as CORPUS (is_cross pairs against
    // them), identically to an index built on corpus∪day1 in one shot
    val oneShot = tmp("graft-lsh-idx3")
    LshIndex.build(spark, corpus.unionByName(day1), oneShot, numBuckets = 8)
    val incremental = pairs(LshIndex.probe(spark, idx, day2))
    assert(incremental === pairs(LshIndex.probe(spark, oneShot, day2)))
    // day-2-vs-day-1 pairs exist and count as cross (day1 is corpus now)
    val d21 = incremental.filter(p => (p._1 % 3 == 1) != (p._2 % 3 == 1))
    assert(d21.forall(_._4))

    // compaction folds the deltas without changing any probe result
    assert(LshIndex.compact(spark, idx, minDeltas = 1) >
      0, "compact must commit when deltas exist")
    assert(pairs(LshIndex.probe(spark, idx, day2)) === incremental)
  }

  private def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, Long]()
    java.nio.file.Files.walk(root).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        out(root.relativize(p).toString) = java.nio.file.Files.size(p)
    }
    out.toMap
  }
}
