package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared SparkSession config for Verify / Bench / tests.
  *
  * - UTC session timezone: timestamp-NTZ ↔ epoch conversions must agree
  *   with the DuckDB oracle.
  * - `nanosAsLong`: the `events` table carries TIMESTAMP(NANOS) which Spark
  *   cannot represent; reading it as epoch-nanos BIGINT is lossless and
  *   matches DuckDB's `epoch_ns()` exactly.
  * - AQE handles runtime coalescing and skew joins at cluster scale; local
  *   shuffle partitions are sized to cores (set by the caller).
  */
object GraftSession {

  /** Drops every persisted RDD still registered with the session — the
    * between-queries sweep for Verify/Bench. Queries that `localCheckpoint`
    * intermediates (Dedup's `releasing`) leave the checkpoint blocks in
    * block-manager storage until the RDD is GC'd; across a 61-query × 3-rep
    * session those blocks accumulate into eviction/GC thrash that taxes
    * unrelated queries (BENCH_r04: text_tokens 5.4×). Safe after the sink
    * has consumed a result: every query rebuilds its frames from the source
    * tables, so no persisted RDD outlives its own query on purpose.
    */
  def releaseStorage(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => pinnedRddIds.contains(id) }
      .values.foreach(_.unpersist(blocking = false))

  /** RDD ids exempt from [[releaseStorage]] — session-lifetime store
    * artifacts (the per-dir graph store's checkpoints). A locally
    * checkpointed RDD's lineage is TRUNCATED: if the sweep unpersisted
    * it, the next query referencing the shared frame would fail with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND rather than recompute.
    */
  private val pinnedRddIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Pins every checkpointed/persisted RDD a DataFrame's plan references
    * so the between-queries storage sweep leaves it resident. Call on
    * eagerly-checkpointed store artifacts only.
    */
  def pin(df: DataFrame): DataFrame = {
    df.queryExecution.optimizedPlan.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        pinnedRddIds.add(l.rdd.id); ()
      case _ => ()
    }
    df
  }

  /** Campaign-mode artifact durability (r14): point the shared graph
    * artifacts (operators.Graph `piece` cache) at a RELIABLE checkpoint
    * directory so a long multi-query run can never evict one mid-key and
    * recompute its lineage (the in-campaign graph_jaccard ×5 blowup), and
    * so the artifacts would survive executor loss on a real cluster.
    * `SPARK_GRAFT_CKPT_DIR` overrides the location; `off` keeps the
    * localCheckpoint mode (the isolated-query default where the blocks
    * can't be evicted between build and use).
    */
  def enableReliableArtifacts(spark: SparkSession): Unit =
    sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR", "") match {
      case "off" => ()
      case "" => spark.conf.set("spark.graft.checkpointDir",
        graft.operators.Scratch.scratch("graft-ckpt").toString)
      case dir => spark.conf.set("spark.graft.checkpointDir", dir)
    }

  // NOT adopted (r14): a size-derived AQE advisoryPartitionSizeInBytes
  // (clamp(dirBytes×8/cores, 1 MB, 64 MB)) was measured against the
  // 64 MB default on a 15-key serial-stage subset, same box,
  // median-of-5: 22.48 s (64 MB) vs 24.29 s (derived ≈4 MB). The extra
  // post-shuffle tasks cost more in scheduling than the won parallelism
  // at bench scale, so the default stays.

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // a bucketed store read names up to numBuckets × (1 + pending
      // deltas) directories (ChangesetStore); listing a few hundred on the
      // driver costs less than the listing job Spark runs above the
      // default threshold of 32 paths
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.driver.host", "localhost")
}
