package graft.operators

import graft.Tables
import graft.sources.ChangesetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Persisted BM25 inverted index — the retrieval twin of [[LshIndex]]:
  * the postings table `text_bm25` derives in-query, made a store
  * artifact so a 100 TB corpus is tokenized and shuffled ONCE and every
  * later query opens only its own terms' buckets.
  *
  * Artifact: a [[ChangesetStore]] bucketed store of postings rows
  * (term, doc_id, dl, tf) with row identity (term, doc_id) but buckets
  * defined by `term` ALONE — a probe hashes its query terms and opens
  * only those buckets, and because a term's postings live complete
  * inside its own buckets (base + deltas), the df counted from the
  * opened rows equals the full-corpus df exactly. Proper-subset
  * bucketing makes the store append-only by contract (the LshIndex
  * caveat); immutable-document corpora are exactly the LLM
  * training-data case.
  *
  * Corpus scalars (N docs, Σdl) cannot be derived from probed buckets,
  * so they ride a tiny stats file next to the store, maintained
  * ADDITIVELY on build/append — exact integers, so a probe after any
  * append chain scores with precisely the one-shot values.
  * Single-writer contract, like every store here: the stats update and
  * the store commit are two steps, and a crash between them is repaired
  * by re-running the append (store append is idempotent per batch only
  * under the streaming id-gate; the CLI path is single-writer).
  */
object Bm25Index {

  private val StatsFile = "bm25stats.json"

  /** (n_docs, sum_dl) the index currently covers. */
  def stats(indexDir: String): (Long, Long) = {
    val s = new String(
      Files.readAllBytes(Paths.get(indexDir, StatsFile)), "UTF-8")
    val m = s.trim.stripPrefix("{").stripSuffix("}").split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toLong
    }.toMap
    (m("n_docs"), m("sum_dl"))
  }

  private def writeStats(spark: SparkSession, indexDir: String, n: Long,
      sl: Long): Unit =
    ChangesetStore.writeAtomic(spark, indexDir, StatsFile,
      s"""{"n_docs": $n, "sum_dl": $sl}""")

  /** Doc-count/Σdl of one postings batch — distinct per doc first, since
    * postings repeat (doc_id, dl) once per term.
    */
  private def batchStats(post: DataFrame): (Long, Long) = {
    val r = post.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).cast("long"), sum("dl").cast("long")).head
    (r.getLong(0), r.getLong(1))
  }

  /** Builds the index from a corpus postings frame (one store version).
    * `stats` = the batch's (n_docs, Σdl) when the caller already knows
    * them (e.g. computed for several splits in one pass — bm25Store):
    * the postings frame is then consumed exactly once by the store
    * write, so the defensive localCheckpoint (two consumers otherwise:
    * write + stats scan) is skipped — r14, two materialization jobs and
    * one aggregate job saved per build/append pair.
    */
  def build(spark: SparkSession, post: DataFrame, indexDir: String,
      numBuckets: Int = 64, stats: Option[(Long, Long)] = None): Int = {
    // checkpoint skipped only when the batch truly has ONE consumer:
    // stats are precomputed AND the store is fresh (a NEW store's upsert
    // is a single staging write). An upsert onto an EXISTING store scans
    // the batch three times (touched-bucket collect, key set, merge
    // write) — a nondeterministic batch re-evaluated per scan could
    // write rows inconsistent with its own anti-join key set, so that
    // path always materializes (r15, the r14 advice item).
    val fresh = ChangesetStore.currentVersion(spark, indexDir).isEmpty
    val skipCkpt = stats.isDefined && fresh
    val rows = if (skipCkpt) post else post.localCheckpoint(true)
    try {
      val n = ChangesetStore.upsertBucketed(spark, indexDir, rows,
        keys = Seq("term", "doc_id"), numBuckets, bucketBy = Seq("term"))
      val (nd, sl) = stats.getOrElse(batchStats(rows))
      writeStats(spark, indexDir, nd, sl)
      n
    } finally if (!skipCkpt) { rows.unpersist(blocking = false); () }
  }

  /** Appends a new batch's postings as per-bucket DELTA files — O(batch)
    * I/O (the [[LshIndex]] append argument verbatim: a diverse batch
    * touches essentially every term bucket, so read-merge-rewrite would
    * cost O(corpus) per day) — and advances the stats additively.
    */
  def append(spark: SparkSession, post: DataFrame, indexDir: String,
      numBuckets: Int = 64, batchStatsIn: Option[(Long, Long)] = None): Int = {
    val rows = if (batchStatsIn.isDefined) post else post.localCheckpoint(true)
    try {
      val n = ChangesetStore.appendBucketed(spark, indexDir, rows,
        keys = Seq("term", "doc_id"), numBuckets, bucketBy = Seq("term"))
      val (nd, sl) = batchStatsIn.getOrElse(batchStats(rows))
      val (n0, sl0) = stats(indexDir)
      writeStats(spark, indexDir, n0 + nd, sl0 + sl)
      n
    } finally if (batchStatsIn.isEmpty) { rows.unpersist(blocking = false); () }
  }

  /** Folds delta-heavy term buckets — probes stay O(terms touched). */
  def compact(spark: SparkSession, indexDir: String, minDeltas: Int = 4): Int =
    ChangesetStore.compactBucketed(spark, indexDir, minDeltas)

  /** BM25 top-5 per query served FROM THE ARTIFACT: only the buckets the
    * query terms hash into are opened (base + deltas), df comes from the
    * opened postings (complete per term by bucketing), N/Σdl from the
    * stats file — bit-identical to [[TextOps.textBm25]] over the same
    * corpus, which is exactly what the shared oracle checks.
    */
  def probe(spark: SparkSession, indexDir: String, qt: DataFrame): DataFrame = {
    val terms = qt.select("term").distinct()
    val empty = qt.sparkSession.range(0)
      .select(lit("").as("term"), lit(0L).as("doc_id"),
        lit(0).as("dl"), lit(0L).as("tf"))
    val post = ChangesetStore.readBucketsFor(spark, indexDir, terms,
        keys = Seq("term", "doc_id"))
      .map(_.join(terms, Seq("term"), "left_semi"))
      .getOrElse(empty)
    val dfq = post.groupBy("term").agg(count(lit(1)).as("df"))
    val (nd, sl) = stats(indexDir)
    TextOps.bm25Score(post, qt, dfq, math.max(nd, 1L), math.max(sl, 1L))
  }

  /** Driver-checked key `bm25_store`: the `text_bm25` computation with
    * the postings side served from the PERSISTED index — build on the
    * 80 % corpus split, append the 20 % batch, probe with the standard
    * query set. Probe-after-append must equal the one-shot computation,
    * so it shares `text_bm25`'s oracle verbatim.
    */
  def bm25Store(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("toks", expr(TextOps.toksExpr))
    val corpus = docs.filter(col("doc_id") % 101 =!= 0)
    val post = TextOps.bm25Postings(corpus).cache()
    val isNew = (col("doc_id") % 5) === 4
    // both splits' (n_docs, Σdl) in ONE pass over the cached postings
    // (r14): build/append then consume their split exactly once and skip
    // their defensive localCheckpoints — the same numbers the two
    // per-split batchStats aggregates produced, grouped instead of
    // repeated
    val st = post.select(col("doc_id"), col("dl"), isNew.as("nw")).distinct()
      .groupBy("nw").agg(count(lit(1)).cast("long").as("n"),
        sum("dl").cast("long").as("sl"))
      .collect().map(r => r.getBoolean(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 8 store buckets: 64 is the 100 TB layout; at driver-check scale it
    // is pure small-file overhead (the LshIndex precedent)
    val idx = Scratch.scratch("graft-bm25-idx").toString
    build(s, post.filter(!isNew), idx, numBuckets = 8,
      stats = Some(st.getOrElse(false, (0L, 0L))))
    append(s, post.filter(isNew), idx, numBuckets = 8,
      batchStatsIn = Some(st.getOrElse(true, (0L, 0L))))
    Dedup.releasing(
      probe(s, idx, TextOps.bm25QueryTerms(docs)), post)
  }
}
