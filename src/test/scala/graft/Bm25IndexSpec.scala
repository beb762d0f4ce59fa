package graft

import graft.operators.{Bm25Index, TextOps}
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index: the store lifecycle must reproduce the
  * one-shot `text_bm25` computation exactly, across any append chain and
  * after compaction, and its stats must advance additively.
  */
class Bm25IndexSpec extends SparkSpec {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq

  private def fixtures() = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", expr(TextOps.toksExpr))
    val corpus = docs.filter(col("doc_id") % 101 =!= 0)
    (docs, TextOps.bm25Postings(corpus).localCheckpoint(true))
  }

  test("rolling appends + compact reproduce the one-shot ranking exactly") {
    val (docs, post) = fixtures()
    val qt = TextOps.bm25QueryTerms(docs).localCheckpoint(true)
    val oneShot = rows(TextOps.textBm25(spark, sfDir))

    val idx = tmp("graft-bm25-idx")
    // three disjoint thirds arriving as build + two appends
    Bm25Index.build(spark, post.filter(col("doc_id") % 3 === 0), idx,
      numBuckets = 8)
    Bm25Index.append(spark, post.filter(col("doc_id") % 3 === 1), idx,
      numBuckets = 8)
    Bm25Index.append(spark, post.filter(col("doc_id") % 3 === 2), idx,
      numBuckets = 8)
    assert(rows(Bm25Index.probe(spark, idx, qt)) === oneShot,
      "probe after the append chain must equal the one-shot computation")

    Bm25Index.compact(spark, idx, minDeltas = 1)
    assert(rows(Bm25Index.probe(spark, idx, qt)) === oneShot,
      "compaction must not change probe results")
  }

  test("stats advance additively and match the corpus scalars") {
    val (_, post) = fixtures()
    val idx = tmp("graft-bm25-idx2")
    Bm25Index.build(spark, post.filter(col("doc_id") % 2 === 0), idx,
      numBuckets = 8)
    val (n0, sl0) = Bm25Index.stats(idx)
    Bm25Index.append(spark, post.filter(col("doc_id") % 2 === 1), idx,
      numBuckets = 8)
    val (n1, sl1) = Bm25Index.stats(idx)
    assert(n1 > n0 && sl1 > sl0)
    val r = post.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).cast("long"), sum("dl").cast("long")).head
    assert((n1, sl1) === ((r.getLong(0), r.getLong(1))),
      "stats after the full chain must equal the corpus totals")
  }
}
