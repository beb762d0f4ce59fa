package graft.operators

import graft.sources.{ChangesetStore, OsmXml}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Changeset replication sequencing — the ChangesetStateManager.java:26-47
  * analog. The reference keeps the ChangesetDB current by walking minutely
  * changeset diffs from the replication endpoint: a persisted local-state
  * bookmark, an estimated starting sequence when no bookmark exists
  * (`findStartStateByTimestamp` against the DB's max timestamp), then
  * batched sequential application (`updateToRemoteState` →
  * `Flux.range(local+1, steps).buffer(500)` → `upsertChangesets` +
  * `updateLocalState` per batch). Here the endpoint is a local replication
  * directory of `<osm><changeset…/></osm>` diff files (grouped
  * `000/000/042.osm` or flat `42.osm`), the DB is a
  * [[graft.sources.ChangesetStore]], and the bookmark reuses
  * [[ReplicationCatchup]]'s `state.txt` Properties contract — one commit
  * point after each applied batch, so a crash resumes exactly where it
  * left off and replaying a batch is a latest-wins no-op.
  *
  * Scale: each batch is one distributed `wholeTextFiles` parse (minutely
  * changeset diffs are KB-sized; a 500-diff batch is still tiny) followed
  * by ONE bucket-pruned store upsert — the store side reads and rewrites
  * only the buckets the batch touches, never the full table. Nothing in
  * the loop scans the accumulated store.
  */
object ChangesetCatchup {
  import ReplicationCatchup.{State, readState, writeState}

  /** Reference batch width (`.buffer(500)`). */
  val DefaultBatchSize = 500

  /** One diff batch parsed DISTRIBUTED, each row tagged with its diff's
    * sequence number so later diffs win the within-batch fold (a changeset
    * created in diff N and closed in diff N+k appears twice in one batch;
    * only the closure row may reach the store).
    */
  private def readBatch(spark: SparkSession, batch: Seq[(Long, String)]): DataFrame = {
    val seqByPath = batch.map { case (seq, p) =>
      new org.apache.hadoop.fs.Path(p).toUri.getPath -> seq
    }.toMap
    val bc = spark.sparkContext.broadcast(seqByPath)
    val rdd = spark.sparkContext
      .wholeTextFiles(batch.map(_._2).mkString(","), batch.size.min(32))
      .flatMap { case (path, content) =>
        val seq = bc.value(new org.apache.hadoop.fs.Path(path).toUri.getPath)
        OsmXml.parseChangesets(content).map(r =>
          (seq, r.id, r.created_at, r.closed_at, r.open, r.uid, r.user,
            r.num_changes, r.comments_count, r.min_lon, r.min_lat,
            r.max_lon, r.max_lat, r.tags))
      }
    spark.createDataFrame(rdd).toDF("seq", "id", "created_at", "closed_at",
      "open", "uid", "user", "num_changes", "comments_count",
      "min_lon", "min_lat", "max_lon", "max_lat", "tags")
  }

  /** Sequence number encoded in a diff file path — digits of the final
    * path segments (flat `42.osm` or grouped `000/000/042.osm`), shared
    * with [[graft.streaming.ChangesetStream]] where the watched-file path
    * is the only sequence carrier.
    */
  private[graft] def sequenceOf(path: String): Option[Long] = {
    val segs = path.split('/').filter(_.nonEmpty)
    if (segs.isEmpty) return None
    val name = segs.last.stripSuffix(".osm")
    if (name.isEmpty || !name.forall(_.isDigit)) return None
    val groups = segs.dropRight(1).takeRight(2).filter(s => s.nonEmpty && s.forall(_.isDigit))
    // grouped layout only when BOTH parent segments are digit groups (the
    // reference splits digits 3/3/3); a flat file in `2024/` must not
    // absorb the year
    if (groups.length == 2) Some((groups.mkString + name).toLong)
    else Some(name.toLong)
  }

  /** Latest row per changeset id within one batch (highest sequence wins —
    * the order the reference gets from applying diffs one by one). The
    * winning row KEEPS its `seq`: store rows carry the sequence that
    * produced them, so an out-of-order consumer (the streaming face,
    * where a lower-seq file can surface in a later micro-batch) can
    * refuse to overwrite newer data with older.
    */
  private[graft] def foldBatch(parsed: DataFrame): DataFrame = {
    val cols = Seq("created_at", "closed_at", "open", "uid", "user",
      "num_changes", "comments_count", "min_lon", "min_lat", "max_lon",
      "max_lat", "tags", "seq")
    parsed.groupBy("id")
      .agg(max_by(struct(cols.map(col): _*), col("seq")).as("r"))
      .select(col("id") +: cols.map(c => col(s"r.$c")): _*)
  }

  /** Max lifecycle timestamp present in the store (ISO-8601 strings order
    * lexicographically), or None for an empty/new store. The reference's
    * `changesetDB.getMaxLocalTimestamp`.
    */
  def maxLocalTimestamp(spark: SparkSession, storeDir: String): Option[String] =
    ChangesetStore.currentVersion(spark, storeDir).flatMap { _ =>
      val r = ChangesetStore.readAuto(spark, storeDir)
        .agg(max(greatest(col("created_at"), col("closed_at")))).collect().head
      if (r.isNullAt(0)) None else Some(r.getString(0))
    }

  /** Max lifecycle timestamp inside one diff file (driver-side parse — the
    * probe reads O(log n) of these KB-sized files, never the data path).
    */
  private def diffMaxTs(path: String): String = {
    val rows = OsmXml.parseChangesets(Files.readString(Paths.get(path)))
    if (rows.isEmpty) ""
    else rows.map(r => if (r.closed_at > r.created_at) r.closed_at else r.created_at).max
  }

  /** Estimated starting bookmark when no `state.txt` exists — the
    * reference's `initializeLocalState` → `findStartStateByTimestamp`:
    * binary-search the available diffs for the last one whose newest
    * changeset is still ≤ the store's max timestamp; catch-up resumes at
    * the next sequence. Overlap is harmless (latest-wins upsert), missing
    * data is not, so ties resolve backwards. An empty store replays
    * everything available.
    */
  def estimateStartSequence(spark: SparkSession, diffDir: String,
      storeDir: String): Long = {
    val diffs = ReplicationCatchup.listDiffs(diffDir, ext = ".osm")
    if (diffs.isEmpty) return 0L
    maxLocalTimestamp(spark, storeDir) match {
      case None => diffs.head._1 - 1
      case Some(localMax) =>
        // rightmost diff with maxTs <= localMax; -1 if even the first is newer
        var lo = 0
        var hi = diffs.size - 1
        var found = -1
        while (lo <= hi) {
          val mid = (lo + hi) / 2
          if (diffMaxTs(diffs(mid)._2) <= localMax) { found = mid; lo = mid + 1 }
          else hi = mid - 1
        }
        if (found < 0) diffs.head._1 - 1 else diffs(found)._1
    }
  }

  /** Applies the pending changeset diffs ([[ReplicationCatchup.pending]]:
    * strict sequence order, a gap stops the run), at most `maxSteps`,
    * upserting each batch of `batchSize` diffs into the store and then
    * committing the `state.txt` bookmark — the reference's per-batch
    * `upsertChangesets` + `updateLocalState`. A crash between the upsert
    * and the bookmark re-applies the batch on resume; latest-wins by id
    * makes that a no-op. Returns the number of diffs applied.
    */
  def catchUp(spark: SparkSession, diffDir: String, storeDir: String,
      maxSteps: Int = Int.MaxValue, batchSize: Int = DefaultBatchSize,
      numBuckets: Int = 64): Long = {
    require(batchSize > 0, "batchSize must be positive")
    Files.createDirectories(Paths.get(storeDir))
    var st = readState(storeDir).getOrElse(
      State(estimateStartSequence(spark, diffDir, storeDir), ""))
    val pending = ReplicationCatchup.pending(diffDir, ".osm", st.sequenceNumber, maxSteps)
    pending.grouped(batchSize).foreach { batch =>
      // batch materialized once (r15): an upsert onto an existing store
      // consumes it three times (touched-bucket collect, key set, staging
      // write) and the bookmark-timestamp aggregate a fourth — each
      // re-evaluation was a full re-parse + re-fold of the diff XML
      val folded = foldBatch(readBatch(spark, batch)).localCheckpoint(true)
      // upsert ∥ bookmark aggregate (§2.6): both only read the
      // materialized batch; the state commit still lands strictly AFTER
      // the upsert below, so the crash/resume contract is unchanged
      val (_, ts) = graft.Par.run2(
        () => ChangesetStore.upsertBucketed(spark, storeDir, folded,
          Seq("id"), numBuckets),
        () => folded.agg(max(greatest(col("created_at"), col("closed_at"))))
          .collect().head)
      st = State(batch.last._1,
        if (ts.isNullAt(0)) st.timestamp else ts.getString(0))
      writeState(spark, storeDir, st)
      folded.unpersist(blocking = false)
    }
    pending.size.toLong
  }

  /** Driver-checked key `cs_catchup`: the sequenced catch-up loop under
    * the DuckDB oracle. Three changeset diffs are derived from `events` —
    * diff k carries, for every user TOUCHED in time window k, that user's
    * session stats AS OF window k's cutoff (changeset id = user id).
    * Because a user's final diff includes all their events, latest-wins
    * application of the full sequence converges to the per-user GLOBAL
    * stats — which the oracle computes directly, so a missed diff, a
    * first-wins merge, or a broken bookmark breaks the hash compare while
    * the cutoff choice cannot affect the result. Diff packaging writes
    * driver-side XML (test-scale only — the catch-up itself parses and
    * upserts distributed, same as production).
    */
  def csCatchup(s: SparkSession, dir: String): DataFrame = {
    import graft.Tables
    // materialized once: the min/max probe plus each diff window's
    // touched-user and as-of aggregations all re-consume the table
    val e = Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      .localCheckpoint(true)
    val mm = e.agg(min("ts_us"), max("ts_us")).collect().head
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cuts = Seq(lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3, hi)
    val diffDir = Scratch.scratch("graft-cs-catchup-diffs")
    val store = Scratch.scratch("graft-cs-catchup-store").toString
    // the three diff windows' as-of aggregations are independent reads of
    // the checkpointed event table — run their collects concurrently
    // (§2.6) instead of sequencing three small job chains (r15)
    val bodies = graft.Par.run(cuts.zipWithIndex.map { case (cut, i) => () => {
      val prev = if (i == 0) Long.MinValue else cuts(i - 1)
      val touched = e.filter(col("ts_us") > prev && col("ts_us") <= cut)
        .select("user_id").distinct()
      val rows = e.filter(col("ts_us") <= cut)
        .join(broadcast(touched), Seq("user_id"), "left_semi")
        .groupBy("user_id")
        .agg(min("ts_us").as("created_at"), max("ts_us").as("closed_at"),
          count(lit(1)).as("num_changes"))
        .collect()
      rows.map { r =>
        s"""<changeset id="${r.getLong(0)}" created_at="${r.getLong(1)}" closed_at="${r.getLong(2)}" open="false" uid="${r.getLong(0)}" user="u${r.getLong(0)}" num_changes="${r.getLong(3)}"/>"""
      }.mkString("\n")
    }})
    bodies.zipWithIndex.foreach { case (body, i) =>
      Files.writeString(diffDir.resolve(s"${i + 1}.osm"),
        s"""<?xml version="1.0"?>\n<osm version="0.6">\n$body\n</osm>""")
    }
    // 8 store buckets: the 64-bucket default is the 100 TB layout; at
    // driver-check scale it is pure small-file overhead
    catchUp(s, diffDir.toString, store, batchSize = 2, numBuckets = 8)
    ChangesetStore.readAuto(s, store).select(col("id"),
      col("created_at").cast("long").as("created_at"),
      col("closed_at").cast("long").as("closed_at"),
      col("num_changes"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cs_catchup" -> (csCatchup _))

  val oracles: Map[String, String] = Map(
    "cs_catchup" ->
      """SELECT user_id AS id, min(epoch_us(ts)) AS created_at,
        |  max(epoch_us(ts)) AS closed_at, count(*) AS num_changes
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Open changesets whose creation predates `cutoffIso` — the reference's
    * `getOpenChangesetsOlderThanTwoHours` candidate set for the unclosed-
    * changeset refresh (the refresh fetch itself is the declared non-goal
    * HTTP API; [[refreshUnclosed]] applies its result).
    */
  def openOlderThan(spark: SparkSession, storeDir: String,
      cutoffIso: String): DataFrame =
    ChangesetStore.readAuto(spark, storeDir)
      .filter(col("open") && col("created_at") < lit(cutoffIso))

  /** Upserts re-fetched (now closed) changeset rows — the
    * `updateUnclosedChangesets` apply half: latest-wins by id, bucket-
    * pruned, bookmark untouched (closures arrive out of band of the
    * sequence stream). A sequenced store's rows carry `seq`; out-of-band
    * closures are stamped with the current bookmark — future diffs
    * (higher seq) can still update the row, late stream files (lower
    * seq) cannot rewind it.
    */
  def refreshUnclosed(spark: SparkSession, storeDir: String,
      refreshed: DataFrame): Int = {
    val storeHasSeq = ChangesetStore.currentVersion(spark, storeDir).exists(_ =>
      ChangesetStore.readAuto(spark, storeDir).columns.contains("seq"))
    val aligned =
      if (storeHasSeq == refreshed.columns.contains("seq")) refreshed
      else if (storeHasSeq) refreshed.withColumn("seq",
        lit(readState(storeDir).map(_.sequenceNumber).getOrElse(0L)))
      else refreshed.drop("seq")
    ChangesetStore.upsertBucketed(spark, storeDir, aligned, Seq("id"))
  }
}
