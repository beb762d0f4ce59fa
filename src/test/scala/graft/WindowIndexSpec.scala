package graft

import graft.operators.{Dedup, WindowIndex}
import org.apache.spark.sql.functions._

/** Persisted exact-substring window index: probe-after-append equals the
  * one-shot operator restricted to batch-involving pairs, appends are
  * O(batch) delta files, and compaction changes no result.
  */
class WindowIndexSpec extends SparkSpec {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("store probe equals the one-shot slice; appends stay delta-only") {
    import spark.implicits._
    val span = (1 to 60).map(i => s"span-tok-$i").mkString(" ")
    val other = (1 to 55).map(i => s"other-tok-$i").mkString(" ")
    val corpus = Seq(
      (1L, s"corpus one $span tail words"),
      (2L, s"corpus two intro $other end"),
      (3L, (1 to 70).map(i => s"noise-$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"batch shares $span indeed"),      // pairs with corpus doc 1
      (11L, s"batch also has $other here"),     // pairs with corpus doc 2
      (12L, s"two batch docs share $span too")) // pairs with 1 AND 10
      .toDF("doc_id", "text")

    val idx = tmp("graft-w50-spec")
    WindowIndex.build(spark, corpus, idx, numBuckets = 4)
    val before = files(idx)
    WindowIndex.append(spark, batch, idx, numBuckets = 4)
    val after = files(idx)
    before.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz), s"append must not rewrite base file $p")
    }
    assert((after -- before.keySet).keySet.forall(_.contains("d=")),
      "append may only add delta files")

    val got = pairs(WindowIndex.probe(spark, idx, batch))
    // the one-shot operator over corpus ∪ batch, restricted to pairs
    // with a batch side — the store contract
    val batchIds = Set(10L, 11L, 12L)
    val want = pairs(Dedup.windowPairsOf(spark, corpus.unionByName(batch)))
      .filter(p => batchIds(p._1) || batchIds(p._2))
    assert(got === want)
    assert(got.exists(p => p._1 == 1L && p._2 == 10L),
      "batch-vs-corpus span pair must surface")
    assert(got.exists(p => p._1 == 10L && p._2 == 12L),
      "batch-vs-batch span pair must surface")
    assert(!got.exists(p => !batchIds(p._1) && !batchIds(p._2)),
      "corpus-internal pairs are not the probe's business")

    // compaction folds deltas without changing any probe result
    assert(WindowIndex.compact(spark, idx, minDeltas = 1) > 0)
    assert(pairs(WindowIndex.probe(spark, idx, batch)) === got)
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
