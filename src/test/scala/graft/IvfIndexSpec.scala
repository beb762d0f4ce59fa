package graft

import graft.operators.{Ann, IvfIndex}
import graft.sources.ChangesetStore
import org.apache.spark.sql.functions._

/** Persisted IVF index: build once, probe from the artifact alone
  * (corpus deleted between probes), versioned rebuilds behind the atomic
  * pointer, and parity with the inline `ann_ivf` operator.
  */
class IvfIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("q_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        math.round(r.getDouble(4) * 1e9))).toSeq

  private def corpusAndQueries() = {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    (e.filter(col("vec_id") >= 8).select("vec_id", "embedding"),
      e.filter(col("vec_id") < 8).select("vec_id", "embedding"))
  }

  private def fixedCentroids() =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq

  test("build once, probe twice — the second probe reads ONLY the artifact") {
    val (corpus, queries) = corpusAndQueries()
    // stage the corpus as its own table so it can be deleted after build
    val corpusDir = tmp("graft-ivf-corpus")
    corpus.write.mode("overwrite").parquet(s"$corpusDir/emb")
    val staged = spark.read.parquet(s"$corpusDir/emb")

    val idx = tmp("graft-ivf-idx")
    assert(IvfIndex.build(spark, staged, fixedCentroids(), idx) === 1)

    val first = rows(IvfIndex.probe(spark, idx, queries))
    assert(first.nonEmpty)

    // delete the corpus: a probe that secretly re-read it would now fail
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpusDir))
    val second = rows(IvfIndex.probe(spark, idx, queries))
    assert(second === first)
  }

  test("probe serves byte-identical results to the inline ann_ivf") {
    val (corpus, queries) = corpusAndQueries()
    val idx = tmp("graft-ivf-idx2")
    IvfIndex.build(spark, corpus, fixedCentroids(), idx)
    assert(rows(IvfIndex.probe(spark, idx, queries)) ===
      rows(Ann.queries("ann_ivf")(spark, sf)))
  }

  test("rebuild commits a new version; the pointer swap is atomic") {
    val (corpus, queries) = corpusAndQueries()
    val idx = tmp("graft-ivf-idx3")
    IvfIndex.build(spark, corpus, fixedCentroids(), idx)
    val v1 = rows(IvfIndex.probe(spark, idx, queries))

    // retrain with a different codebook (first 4 centroids only): the
    // rebuild must land as v=2 and change what probes see
    assert(IvfIndex.build(spark, corpus, fixedCentroids().take(4), idx) === 2)
    assert(ChangesetStore.currentVersion(spark, idx) === Some(2))
    val v2 = rows(IvfIndex.probe(spark, idx, queries))
    assert(v2.forall(_._4 < 12), "probes must hit the 4-centroid codebook")
    assert(v2 !== v1)
  }

  test("lost pointer recovers from the _SUCCESS marker") {
    val (corpus, queries) = corpusAndQueries()
    val idx = tmp("graft-ivf-idx4")
    IvfIndex.build(spark, corpus, fixedCentroids(), idx)
    val before = rows(IvfIndex.probe(spark, idx, queries))
    java.nio.file.Files.delete(java.nio.file.Paths.get(idx, "current"))
    assert(rows(IvfIndex.probe(spark, idx, queries)) === before)
  }

  test("append: build + incremental batch == one-shot build, untouched cells carried") {
    val (corpus, queries) = corpusAndQueries()
    // one-shot reference index
    val full = tmp("graft-ivf-full")
    IvfIndex.build(spark, corpus, fixedCentroids(), full)
    val oneShot = rows(IvfIndex.probe(spark, full, queries))

    // build on 80%, append the rest
    val inc = tmp("graft-ivf-inc")
    IvfIndex.build(spark, corpus.filter(col("vec_id") % 5 =!= 0),
      fixedCentroids(), inc)
    val m1 = ChangesetStore.readManifest(spark, inc, 1)
    assert(IvfIndex.append(spark, corpus.filter(col("vec_id") % 5 === 0), inc) === 2)
    assert(rows(IvfIndex.probe(spark, inc, queries)) === oneShot)

    // cells the batch did not land in must carry their v=1 artifact
    val m2 = ChangesetStore.readManifest(spark, inc, 2)
    val untouched = m2.filter(_._2 == 1).keySet
    assert(untouched.forall(c => m1(c) == 1))
  }

  test("append latest-wins: re-appending a vec_id replaces its vector") {
    val (corpus, queries) = corpusAndQueries()
    val idx = tmp("graft-ivf-upd")
    IvfIndex.build(spark, corpus, fixedCentroids(), idx)
    // move vector 20 onto centroid 9's exact position: it must now rank
    // first for any query probing cell 9
    val c9 = fixedCentroids().find(_._1 == 9L).get._2
    import spark.implicits._
    val moved = Seq((20L, c9)).toDF("vec_id", "embedding")
    IvfIndex.append(spark, moved, idx)
    val out = IvfIndex.probe(spark, idx, moved).collect()
    assert(out.exists(r => r.getLong(1) == 9L || r.getLong(1) == 20L))
    // the LIVE view serves vector 20 exactly once (the old placement is
    // tombstoned in its cell, the new one lives in cell 9's delta)
    def n20 = IvfIndex.readLive(spark, idx)
      .filter(col("vec_id") === 20).count()
    assert(n20 === 1L, "replaced, not duplicated")
    // compacting erases the tombstone and stale copy from the base files
    // too, without changing anything a reader sees
    val preCompact = IvfIndex.readLive(spark, idx)
      .orderBy("vec_id").collect().map(_.getLong(1)).toSeq
    assert(IvfIndex.compactCells(spark, idx, minDeltas = 1) > 0)
    assert(n20 === 1L)
    assert(IvfIndex.readLive(spark, idx)
      .orderBy("vec_id").collect().map(_.getLong(1)).toSeq === preCompact)
    val v = ChangesetStore.currentVersion(spark, idx).get
    assert(ChangesetStore.readDeltas(spark, idx, v).isEmpty,
      "compaction must clear the delta entries")
    val paths = ChangesetStore.readManifest(spark, idx, v)
      .toSeq.map { case (c, cv) => s"$idx/b=$c/v=$cv" }
    assert(spark.read.parquet(paths: _*)
      .filter(col("vec_id") === 20).count() === 1L)
  }

  test("append is O(batch): delta files only, no base cell rewritten") {
    val (corpus, queries) = corpusAndQueries()
    val idx = tmp("graft-ivf-obatch")
    IvfIndex.build(spark, corpus.filter(col("vec_id") % 5 =!= 0),
      fixedCentroids(), idx)
    // the cell files: `b=<cell>/...` at the index root (the locator
    // store keeps its own buckets under `locator/`)
    def files(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(idx)
      val out = scala.collection.mutable.Map[String, Long]()
      java.nio.file.Files.walk(root).forEach { p =>
        val rel = root.relativize(p).toString
        if (rel.startsWith("b=") && java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet"))
          out(rel) = java.nio.file.Files.size(p)
      }
      out.toMap
    }
    val before = files()
    // this batch lands across most cells — the pre-delta design rewrote
    // every one of them
    IvfIndex.append(spark, corpus.filter(col("vec_id") % 5 === 0), idx)
    val after = files()
    before.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz), s"append must not rewrite base file $p")
    }
    assert((after -- before.keySet).keySet.forall(_.contains("d=")),
      "append may only add delta files")
    // and the merged result still equals the one-shot build (covered in
    // depth by the append≡one-shot test; cheap sanity here)
    assert(rows(IvfIndex.probe(spark, idx, queries)).nonEmpty)
  }

  test("live and codebook reads run no schema-inference job") {
    val (corpus, _) = corpusAndQueries()
    val idx = tmp("graft-ivf-schema")
    IvfIndex.build(spark, corpus.filter(col("vec_id") % 5 =!= 0), fixedCentroids(), idx)
    IvfIndex.append(spark, corpus.filter(col("vec_id") % 5 === 0), idx)
    // base + pending deltas, then a compacted base alone
    assert(jobsDuring(IvfIndex.readLive(spark, idx)) === 0)
    IvfIndex.compactCells(spark, idx, minDeltas = 1)
    assert(jobsDuring(IvfIndex.readLive(spark, idx)) === 0)
    // the codebook read is its one collect
    assert(jobsDuring(IvfIndex.centroids(spark, idx)) === 1)
  }

  test("trained codebook: kmeansRounds output feeds the build directly") {
    val (corpus, queries) = corpusAndQueries()
    val trained = Ann.kmeansRounds(corpus, fixedCentroids().take(4), rounds = 2)
    val idx = tmp("graft-ivf-idx5")
    IvfIndex.build(spark, corpus, trained, idx)
    val out = rows(IvfIndex.probe(spark, idx, queries, nprobe = 2, k = 3))
    // every query answered with a full top-3 from the trained cells
    assert(out.map(_._1).distinct.size === 8)
    assert(out.groupBy(_._1).values.forall(_.map(_._3).sorted == Seq(1, 2, 3)))
  }
}
