package graft.operators

import graft.Tables
import graft.sources.ChangesetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted LSH dedup index — the "corpus bucket table as a store
  * artifact" that `dedup_incremental` derives in-query, made real: the
  * daily-increment shape at 100 TB is build-the-index-once, then each new
  * batch probes it bucket-pruned and appends itself, and the corpus
  * documents are NEVER re-read, re-hashed, or shuffled again.
  *
  * Artifact: a [[graft.sources.ChangesetStore]] bucketed store of
  * UNCAPPED band rows carrying their signatures —
  * (band, bkey, doc_id, mh0..mh7) — with row identity
  * (band, bkey, doc_id) but buckets defined by (band, bkey) ALONE
  * (`bucketBy` proper subset): a probe hashes its batch's band keys and
  * opens only those buckets. Signatures ride in the rows so the jaccard
  * rerank needs no second corpus source. Proper-subset bucketing makes
  * the store append-only by contract (a re-ingested doc with CHANGED text
  * would move buckets and strand its old rows — the documented
  * ChangesetStore.upsertBucketed caveat); immutable-document corpora are
  * exactly the LLM training-data case.
  *
  * The MaxBucket cap is applied at PROBE time over index∪batch rows of
  * the probed groups — bucket size is a property of the candidate-
  * generation moment, so freezing it into the artifact would diverge from
  * the one-shot computation as the corpus grows.
  */
object LshIndex {

  private def sigCols = (0 until Dedup.NumHashes).map(j => s"mh$j")

  /** Band rows + signatures for a signature frame (doc_id, mh0..mh7).
    * The signature side broadcasts: store-derived frames carry no size
    * stats, and without the hint this doc_id equi-join falls back to a
    * sort-merge shuffle of the (bigger) band-row side.
    */
  private def indexRows(sigs: DataFrame): DataFrame =
    Dedup.bandRows(sigs).join(broadcast(sigs), Seq("doc_id"))
      .select((Seq("band", "bkey", "doc_id") ++ sigCols).map(col): _*)

  /** Builds the index from the corpus signatures (one store version). The
    * row pipeline materializes once: the store upsert consumes its batch
    * three times (touched-bucket probe, key set, staging write), and
    * recomputing the minhash/band lineage for each is the dominant cost.
    */
  def build(spark: SparkSession, corpusSigs: DataFrame, indexDir: String,
      numBuckets: Int = 64): Int = {
    // a NEW store's upsert consumes the batch exactly once (nothing to
    // merge: no touched-bucket probe, no key set) — only an upsert onto
    // an EXISTING store re-reads it, so only that path pays the
    // materialization (r14)
    val fresh = ChangesetStore.currentVersion(spark, indexDir).isEmpty
    val rows = if (fresh) indexRows(corpusSigs)
      else indexRows(corpusSigs).localCheckpoint(true)
    try ChangesetStore.upsertBucketed(spark, indexDir, rows,
      keys = Seq("band", "bkey", "doc_id"), numBuckets,
      bucketBy = Seq("band", "bkey"))
    finally if (!fresh) { rows.unpersist(blocking = false); () }
  }

  /** Appends a new batch's rows as per-bucket DELTA files — O(batch)
    * I/O. The store is append-only by contract (row identity
    * (band, bkey, doc_id) never repeats for an immutable corpus), so no
    * existing bucket data is read or rewritten: a diverse daily batch
    * hashes into essentially every bucket, and the previous
    * read-merge-rewrite append cost O(corpus) per day for zero
    * correctness benefit. Probes multi-path-scan base + deltas;
    * [[compact]] folds delta-heavy buckets periodically.
    */
  def append(spark: SparkSession, batchSigs: DataFrame, indexDir: String,
      numBuckets: Int = 64): Int =
    // delta appends consume the batch exactly once (the staging write);
    // the former localCheckpoint materialized it for no second reader
    appendRows(spark, indexRows(batchSigs), indexDir, numBuckets)

  /** Row-level append for callers that already materialized the batch's
    * band rows (the probe-then-append lifecycle computes them ONCE for
    * both).
    */
  private[graft] def appendRows(spark: SparkSession, rows: DataFrame,
      indexDir: String, numBuckets: Int): Int =
    ChangesetStore.appendBucketed(spark, indexDir, rows,
      keys = Seq("band", "bkey", "doc_id"), numBuckets,
      bucketBy = Seq("band", "bkey"))

  /** Folds pending delta files into their buckets' bases once a bucket
    * accumulates `minDeltas` of them — bounds probe file fan-in at
    * O(minDeltas) per bucket while appends stay O(batch).
    */
  def compact(spark: SparkSession, indexDir: String, minDeltas: Int = 4): Int =
    ChangesetStore.compactBucketed(spark, indexDir, minDeltas)

  /** Every band row the index holds under the given signatures' band
    * keys — the artifact-parity surface for specs and debugging (two
    * indexes that must be equal are compared through it).
    */
  def rowsFor(spark: SparkSession, indexDir: String, sigs: DataFrame): DataFrame = {
    val bandKeys = Dedup.bandRows(sigs).select("band", "bkey").distinct()
    ChangesetStore.readBucketsFor(spark, indexDir, bandKeys,
        keys = Seq("band", "bkey", "doc_id"))
      .map(_.join(broadcast(bandKeys), Seq("band", "bkey"), "left_semi"))
      .getOrElse(indexRows(sigs).limit(0))
  }

  /** Batch doc ids ALREADY present in the index. Exact with batch-scale
    * I/O: a doc's band rows live only in the buckets its own band keys
    * hash to (the probe opens the same set), so presence is decidable
    * without touching the rest of the store. This is the replay gate for
    * the streaming ingest face — an at-least-once redelivered batch finds
    * its ids here and appends nothing.
    *
    * CONTRACT: documents are immutable per doc_id. The gate keys on id
    * presence under the BATCH's band keys — exact when a redelivery
    * carries the same text (same signature → same band keys → the lookup
    * opens the buckets holding the id's rows), but a doc_id re-delivered
    * with DIFFERENT text computes different band keys, may miss its old
    * rows, and would append a second generation of band rows for the same
    * id. Mutable corpora need an upsert path (tombstone old band rows by
    * id, like [[IvfIndex]]'s latest-wins cells), not this gate.
    */
  def indexedIds(spark: SparkSession, indexDir: String,
      batchSigs: DataFrame): DataFrame = {
    val bandKeys = Dedup.bandRows(batchSigs).select("band", "bkey").distinct()
    ChangesetStore.readBucketsFor(spark, indexDir, bandKeys,
        keys = Seq("band", "bkey", "doc_id"))
      .map(_.join(broadcast(bandKeys), Seq("band", "bkey"), "left_semi")
        .select("doc_id").distinct())
      .getOrElse(batchSigs.select("doc_id").limit(0))
  }

  /** Candidate pairs of the batch against the indexed corpus (plus
    * batch-internal pairs), with the signature-agreement jaccard estimate
    * and `is_cross` (reaches into the corpus) — exactly the
    * `dedup_incremental` output, but the corpus side comes from the
    * ARTIFACT: only the buckets the batch's band keys hash into are
    * opened, trimmed to the probed (band, bkey) groups, capped at
    * MaxBucket over index∪batch (bucket groups are complete within their
    * hash bucket, so probe-time counts equal one-shot full-table counts),
    * then joined against the broadcast batch rows.
    */
  def probe(spark: SparkSession, indexDir: String, batchSigs: DataFrame): DataFrame =
    // materialized once: consumed by the touched-bucket probe AND the
    // index∪batch union
    probeRows(spark, indexDir, indexRows(batchSigs).localCheckpoint(true))

  /** Probe over already-materialized batch band rows (`batchRows` must be
    * checkpointed `indexRows` output): resolves and SCANS the store
    * snapshot into a checkpointed candidate table before returning, so
    * the returned frame no longer reads store files — a concurrent
    * append afterwards cannot change what it computes.
    */
  private[graft] def probeRows(spark: SparkSession, indexDir: String,
      batchRows: DataFrame): DataFrame = {
    val batchSigs = batchRows
      .select((Seq("doc_id") ++ sigCols).map(col): _*).distinct()
    val probeKeys = batchRows.select("band", "bkey").distinct()

    val corpusRows = ChangesetStore
      .readBucketsFor(spark, indexDir, probeKeys,
        keys = Seq("band", "bkey", "doc_id"))
      .map(_.join(broadcast(probeKeys), Seq("band", "bkey"), "left_semi"))
      .getOrElse(batchRows.limit(0))

    val all = corpusRows.unionByName(batchRows)
    // materialized once: the capped table feeds the pair join, the
    // bandsNew derivation, AND the signature lookup — recomputing the
    // bucket-count window three times would triple the store read
    val capped = Dedup.capBuckets(all).localCheckpoint(true)
    val bandsNew = capped
      .join(broadcast(batchSigs.select("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("band"), col("bkey"), col("doc_id").as("new_id"))

    val agree = (0 until Dedup.NumHashes)
      .map(j => when(col(s"a_mh$j") === col(s"b_mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    // signature lookup sides broadcast (store-read frames have no stats;
    // the md5-signature table is MB-scale at any K since only probed
    // groups' docs appear in it)
    // every doc that can pair appears in >=1 surviving capped row, so the
    // (checkpointed) capped table is a sufficient signature source
    val sigsAll = capped.select((Seq("doc_id") ++ sigCols).map(col): _*).distinct()
    val aSigs = sigsAll.toDF("doc_a" +: sigCols.map("a_" + _): _*)
    val bSigs = sigsAll.toDF("doc_b" +: sigCols.map("b_" + _): _*)
    val batchIds = batchSigs.select(col("doc_id").as("_bid"), lit(true).as("_in_batch"))

    capped
      .join(broadcast(bandsNew), Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("new_id"))
      .select(least(col("doc_id"), col("new_id")).as("doc_a"),
        greatest(col("doc_id"), col("new_id")).as("doc_b"))
      .distinct()
      .join(broadcast(aSigs), "doc_a").join(broadcast(bSigs), "doc_b")
      .join(broadcast(batchIds).withColumnRenamed("_bid", "doc_a")
        .withColumnRenamed("_in_batch", "a_new"), Seq("doc_a"), "left")
      .join(broadcast(batchIds).withColumnRenamed("_bid", "doc_b")
        .withColumnRenamed("_in_batch", "b_new"), Seq("doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), (agree / 8.0).as("jaccard_est"),
        (coalesce(col("a_new"), lit(false)) =!= coalesce(col("b_new"), lit(false)))
          .as("is_cross"))
  }

  /** Driver-checked key `dedup_incr_store`: the `dedup_incremental`
    * computation with the corpus side served from the PERSISTED index —
    * build on the 80% corpus split, probe with the 20% batch, then append
    * the batch (so the artifact is current for the next increment). Shares
    * the `dedup_incremental` oracle verbatim.
    */
  def dedupIncrStore(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.signaturesOf(s, Tables.documents(s, dir)).cache()
    val isNew = (col("doc_id") % 5) === 4
    val idx = Scratch.scratch("graft-lsh-idx").toString
    // 8 store buckets: the 64-bucket default is the 100 TB layout; at
    // driver-check scale it is pure small-file overhead
    build(s, sigs.filter(!isNew), idx, numBuckets = 8)
    // the batch's band rows computed ONCE for probe + append (each used
    // to derive them separately — one broadcast-join pass saved, r15)
    val batchRows = indexRows(sigs.filter(isNew)).localCheckpoint(true)
    val probeDf = probeRows(s, idx, batchRows)
    // final probe materialization ∥ delta append (§2.6): probeRows has
    // already scanned the pre-append store snapshot into its checkpointed
    // candidate table, so the append's commit cannot change what the
    // probe computes, and the two actions share no store files (append
    // only ADDS delta dirs; GC keeps the previous manifest's files)
    val (out, _) = graft.Par.run2(
      () => probeDf.localCheckpoint(true),
      () => appendRows(s, batchRows, idx, numBuckets = 8))
    sigs.unpersist(blocking = false)
    out
  }
}
