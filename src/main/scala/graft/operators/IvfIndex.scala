package graft.operators

import graft.Par
import graft.sources.ChangesetStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF-Flat index — the offline artifact behind [[Ann.annIvf]]'s
  * inline shape. A production ANN deployment builds the index ONCE (train
  * centroids, assign every corpus vector to its nearest-centroid cell),
  * APPENDS daily embedding batches without ever re-reading the corpus,
  * and serves every query from the artifact alone. The reference's analog
  * is the offline spatial grid its country lookups probe (grid built
  * once, shipped as a file, queried forever).
  *
  * Layout — the [[graft.sources.ChangesetStore]] layout with
  * CELL-DEFINED buckets (`_b = cell`: content-defined, not key-hash, so
  * probes prune by cell at the directory level). Cells install, commit
  * and GC through the store's own paths (`stageAndInstall`, manifest,
  * pointer, `gcBucketed`); only the codebook is this index's own:
  *
  *  - `centroids-v<N>/` — K rows (cid, embedding): the codebook for
  *    version N, broadcast-scale by construction.
  *  - `b=<cell>/v=<vi>/`, `b=<cell>/d=<dv>/` — per-cell immutable base
  *    and delta artifacts (cell, vec_id, embedding, n2 [, _v, _del]).
  *  - `manifest-v<N>.json` — cell → live base version + pending deltas;
  *    written via tmp + atomic rename AFTER the data.
  *  - `current` — atomically-swapped pointer, the single commit point.
  *
  * Scale: a build is one corpus scan (centroids inlined as literals —
  * assignment is pure map work, no shuffle) plus one cell-partitioned
  * write. An APPEND is O(batch): rows land as per-cell `d=<v>` DELTA
  * dirs (tombstones covering cross-cell moves), no existing cell data is
  * read or rewritten, and [[compactCells]] periodically folds
  * delta-heavy cells back into their base. A probe reads K centroid rows
  * + the `nprobe` probed cells' directories (base + deltas, merged
  * latest-wins); cost is O(corpus/K · nprobe) I/O regardless of corpus
  * size.
  */
object IvfIndex {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The writers' fixed row schemas: no cell or codebook read pays a
    * schema-inference job.
    */
  private val BaseSchema = "cell BIGINT, vec_id BIGINT, embedding ARRAY<FLOAT>, n2 BIGINT"
  private val DeltaSchema = s"$BaseSchema, _v BIGINT, _del BOOLEAN"

  /** Adds the fixed-point squared norm to any (vec_id, embedding) frame. */
  private def withN2(df: DataFrame): DataFrame = {
    graft.functions.GeoFunctions.register(df.sparkSession)
    df.withColumn("n2", Ann.dotDec(col("embedding"), col("embedding")))
  }

  /** Nearest-cosine cell per vector — map-only argmax over inlined
    * centroid literals (no shuffle, no join for the corpus side).
    */
  private def assign(vectors: DataFrame,
      cents: Array[(Long, Seq[Float], Long)]): DataFrame =
    withN2(vectors.select("vec_id", "embedding"))
      .withColumn("cell",
        -array_max(Ann.cellScores(cents)(col("embedding"), col("n2"))).getField("nid"))
      .select("cell", "vec_id", "embedding", "n2")

  /** `rows` (carrying a `cell` column) as the store's bucket install
    * input: each cell lands as `b=<cell>/<kind>=<next>`. `_b` duplicates
    * cell as the partition key so the data files keep the cell column
    * (partition columns are stripped from the files).
    */
  private def byCell(rows: DataFrame): DataFrame = rows.withColumn("_b", col("cell"))

  private def writeCodebook(spark: SparkSession, indexDir: String, next: Int,
      centroids: Seq[(Long, Seq[Float])]): Unit = {
    import spark.implicits._
    centroids.toDF("cid", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids-v$next")
  }

  /** Appends/compactions do not change the codebook — carry version
    * `prev`'s centroid files forward as `centroids-v<next>` with a
    * driver-side file copy instead of a Spark write job (r14: the
    * rewrite was two of the lifecycle's jobs plus a commit, for bytes
    * that are identical by construction). K rows, so the copy is
    * trivially driver-scale.
    */
  private def carryCodebook(spark: SparkSession, indexDir: String,
      prev: Int, next: Int): Unit = {
    val f = fs(spark, indexDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(s"$indexDir/centroids-v$prev")
    val dst = new Path(s"$indexDir/centroids-v$next")
    if (f.exists(dst)) f.delete(dst, true) // crashed previous attempt
    if (!org.apache.hadoop.fs.FileUtil.copy(f, src, f, dst, false, conf))
      throw new java.io.IOException(s"$indexDir: codebook carry failed")
  }

  /** GC after committing over version `prev`: the store's bucket sweep
    * for the `touched` cells (`newBase`/`newDeltas`: what the new
    * manifest references for them), then codebooks older than prev.
    */
  private def gc(spark: SparkSession, indexDir: String, prev: Int,
      touched: Set[Int], newBase: Map[Int, Int], newDeltas: Map[Int, Seq[Int]]): Unit = {
    ChangesetStore.gcBucketed(spark, indexDir, Some(prev), touched, newBase, newDeltas)
    val f = fs(spark, indexDir)
    f.listStatus(new Path(indexDir)).foreach { st =>
      if (ChangesetStore.versionOf("centroids-v", st.getPath.getName).exists(_ < prev))
        f.delete(st.getPath, true)
    }
  }

  /** Installs per-cell BASE data + centroids + manifest + pointer as
    * version `next` over `prev`, replacing every cell. `rows` must carry
    * (cell, vec_id, embedding, n2).
    *
    * The cell staging write, the codebook write and any `alsoWrite`
    * side-writes (the build path's locator upsert) are INDEPENDENT
    * pre-commit artifacts — none is referenced until the manifest +
    * pointer land below — so they run concurrently (guide §2.6): the
    * driver no longer serializes three small jobs whose wall is mostly
    * scheduling, and on a cluster the later writes back-fill the cell
    * write's task tail. Crash windows are unchanged: whatever subset
    * lands before a crash is uncommitted (cells/codebook) or harmless
    * extra placements (locator — a SET only ever extended).
    */
  private def commit(spark: SparkSession, indexDir: String, prev: Option[Int],
      rows: DataFrame, centroids: Seq[(Long, Seq[Float])],
      alsoWrite: Seq[() => Unit]): Int = {
    val next = prev.getOrElse(0) + 1
    val results = Par.run[Any](
      (() => ChangesetStore.stageAndInstall(spark, indexDir, byCell(rows), next, "v"): Any) +:
        (() => writeCodebook(spark, indexDir, next, centroids): Any) +:
        alsoWrite.map(t => () => t(): Any))
    val base = results.head.asInstanceOf[Seq[Int]].map(_ -> next).toMap
    ChangesetStore.writeManifest(spark, indexDir, next, base)
    ChangesetStore.commitPointer(spark, indexDir, next)
    prev.foreach(gc(spark, indexDir, _, base.keySet, base, Map.empty))
    next
  }

  /** The LIVE merged view of the given cells: base + pending delta files
    * with per-(cell, vec_id) latest-wins by delta version and tombstone
    * drop. Fast path: cells with no pending deltas read as one plain
    * base scan — zero merge overhead for a compacted index. Base rows
    * rank as version 0, which every delta outranks (delta versions are
    * the store versions that committed them, always past the base's
    * fold point).
    */
  private def liveCellRows(spark: SparkSession, indexDir: String, v: Int,
      cells: Set[Int]): Option[DataFrame] = {
    val manifest = ChangesetStore.readManifest(spark, indexDir, v)
      .filter(t => cells(t._1))
    val deltas = ChangesetStore.readDeltas(spark, indexDir, v)
      .filter(t => cells(t._1))
    val basePaths = manifest.toSeq.sorted
      .map { case (c, cv) => s"$indexDir/b=$c/v=$cv" }
    val deltaPaths = deltas.toSeq.sortBy(_._1).flatMap { case (c, ds) =>
      ds.sorted.map(d => s"$indexDir/b=$c/d=$d") }
    if (basePaths.isEmpty && deltaPaths.isEmpty) None
    else if (deltaPaths.isEmpty) Some(spark.read.schema(BaseSchema).parquet(basePaths: _*))
    else {
      val delta = spark.read.schema(DeltaSchema).parquet(deltaPaths: _*)
      val all =
        if (basePaths.isEmpty) delta
        else spark.read.schema(BaseSchema).parquet(basePaths: _*)
          .withColumn("_v", lit(0L)).withColumn("_del", lit(false))
          .unionByName(delta)
      Some(all
        .withColumn("_rk", row_number().over(
          Window.partitionBy("cell", "vec_id").orderBy(desc("_v"))))
        .filter(col("_rk") === 1 && !col("_del"))
        .select("cell", "vec_id", "embedding", "n2"))
    }
  }

  /** The whole live table — every cell's merged view (test/maintenance
    * utility; probes never scan all cells).
    */
  private[graft] def readLive(spark: SparkSession, indexDir: String): DataFrame = {
    val v = ChangesetStore.currentVersion(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"$indexDir: no committed index version"))
    val cells = ChangesetStore.readManifest(spark, indexDir, v).keySet ++
      ChangesetStore.readDeltas(spark, indexDir, v).keySet
    liveCellRows(spark, indexDir, v, cells).getOrElse(
      throw new IllegalStateException(s"$indexDir: empty index"))
  }

  /** The key→cells locator sidecar — a hash-bucketed ChangesetStore of
    * (vec_id, cell) PLACEMENTS. Cell-defined bucketing breaks the
    * key→bucket invariant latest-wins needs (a re-appended vector's NEW
    * embedding can land in a different cell than its old row, which
    * would go stale undetected); the locator answers "which cells have
    * ever held this key" with a bucket-pruned point lookup, never a cell
    * scan. It is a SET (row identity (vec_id, cell), bucketed by vec_id
    * alone), not a latest-pointer: appends tombstone every known
    * non-landing placement, so a crash between the locator write and the
    * index commit — in either order — can only leave EXTRA entries,
    * which cost nothing but a redundant tombstone on the next move. A
    * latest-pointer locator had an unhealable window where a stranded
    * old placement was never tombstoned again.
    */
  private def locatorDir(indexDir: String) = s"$indexDir/locator"

  private def upsertLocator(spark: SparkSession, indexDir: String,
      assigned: DataFrame, locatorBuckets: Int): Unit =
    ChangesetStore.upsertBucketed(spark, locatorDir(indexDir),
      assigned.select("vec_id", "cell"), Seq("vec_id", "cell"),
      locatorBuckets, bucketBy = Seq("vec_id"))

  /** Builds and commits a FULL index version from the corpus. Returns the
    * committed version.
    */
  def build(spark: SparkSession, corpus: DataFrame,
      centroids: Seq[(Long, Seq[Float])], indexDir: String,
      locatorBuckets: Int = 64): Int = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val prev = ChangesetStore.currentVersion(spark, indexDir)
    val cents = centroids.map { case (cid, v) => (cid, v, Ann.n2Of(v)) }.toArray
    // materialized once: consumed by the cell staging write AND the
    // locator upsert (which probes/keys/writes its batch three times)
    val assigned = assign(corpus, cents).localCheckpoint(true)
    // a full (re)build replaces every cell: carry nothing forward. The
    // locator upsert rides the commit's concurrent write group (§2.6):
    // the locator is a SET that is only ever EXTENDED (never deleted),
    // so whether it lands before, during, or after the cell commit the
    // crash outcomes are identical — extra placements at worst, and the
    // dangerous window (committed cells with no locator entries) is the
    // same one the old strictly-sequential order had between its two
    // steps
    commit(spark, indexDir, prev, assigned, centroids,
      alsoWrite = Seq(
        () => { upsertLocator(spark, indexDir, assigned, locatorBuckets); () }))
  }

  /** Appends a new vector batch to the live index as per-cell DELTA
    * files — O(batch) I/O, no existing cell data read or rewritten (the
    * previous design merged + rewrote every touched cell, which for a
    * batch landing across most cells degenerated to a full-store rewrite
    * per day). Batch rows are assigned with the live codebook (map-only)
    * and land as `d=<next>` dirs in their cells; for every re-appended
    * key the bucket-pruned locator lookup finds its CURRENT cell, and a
    * key that moved cells leaves a TOMBSTONE delta row in its old cell —
    * each cell's local view stays self-sufficient, so probes (which open
    * cells independently) never serve the stale copy. Reads apply
    * latest-wins per (cell, vec_id) by delta version; [[compactCells]]
    * folds delta-heavy cells back into their base.
    *
    * The locator upsert happens BEFORE the pointer commit: a crash in
    * between leaves a stale-FORWARD locator, which only ever adds
    * harmlessly-extra tombstone targets on the retry — the reverse order
    * (pointer first) had an unhealable window where the locator pointed
    * at a vector's old cell forever.
    */
  def append(spark: SparkSession, batch: DataFrame, indexDir: String,
      locatorBuckets: Int = 64): Int = {
    val v = ChangesetStore.currentVersion(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"$indexDir: append needs a built index"))
    val cents = centroids(spark, indexDir)
    val next = v + 1
    // materialized once: the tombstone join, cell staging write, and the
    // locator upsert all consume the assignment
    val assigned = assign(batch, cents).localCheckpoint(true)
    val keyDf = batch.select("vec_id").distinct()

    // tombstones for cross-cell moves (the batch is the small side by
    // contract — both join sides here are batch-scale)
    val prior = ChangesetStore
      .readBucketsFor(spark, locatorDir(indexDir), keyDf, Seq("vec_id"))
      .map(_.join(broadcast(keyDf), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("cell").as("prior_cell")))
    val newRows = assigned
      .withColumn("_v", lit(next.toLong)).withColumn("_del", lit(false))
    val deltaRows = prior match {
      case None => newRows
      case Some(p) =>
        val tombs = assigned.select("vec_id", "cell")
          .join(broadcast(p), Seq("vec_id"))
          .filter(col("prior_cell") =!= col("cell"))
          .select(col("prior_cell").as("cell"), col("vec_id"),
            lit(null).cast("array<float>").as("embedding"),
            lit(null).cast("long").as("n2"),
            lit(next.toLong).as("_v"), lit(true).as("_del"))
        newRows.unionByName(tombs)
    }

    // three independent pre-commit writes run concurrently (§2.6): the
    // delta staging write, the locator extension and the codebook carry
    // reference nothing of each other — deltaRows' locator view (`prior`)
    // was resolved to concrete prev-version paths above, which the
    // locator upsert's GC preserves (it keeps the previous manifest's
    // files for readers mid-flight). All land before the pointer commit,
    // so the crash contract is unchanged: extra locator placements at
    // worst, never missing ones
    val (written, _) = Par.run2(
      () => ChangesetStore.stageAndInstall(spark, indexDir, byCell(deltaRows), next, "d"),
      () => { upsertLocator(spark, indexDir, assigned, locatorBuckets)
        carryCodebook(spark, indexDir, v, next) })
    val manifest = ChangesetStore.readManifest(spark, indexDir, v)
    val prevDeltas = ChangesetStore.readDeltas(spark, indexDir, v)
    val newDeltas = written.map(c =>
      c -> (prevDeltas.getOrElse(c, Seq.empty) :+ next)).toMap
    ChangesetStore.writeManifest(spark, indexDir, next, manifest,
      prevDeltas ++ newDeltas)
    ChangesetStore.commitPointer(spark, indexDir, next)
    gc(spark, indexDir, v, newDeltas.keySet, Map.empty, newDeltas)
    next
  }

  /** Folds base + pending deltas into a fresh base for every cell with
    * at least `minDeltas` deltas (latest-wins by vec_id applied, moved
    * keys' tombstones erased for good) — bounds probe file fan-in while
    * appends stay O(batch). Returns the committed version, unchanged if
    * no cell met the threshold.
    */
  def compactCells(spark: SparkSession, indexDir: String,
      minDeltas: Int = 4): Int = {
    val v = ChangesetStore.currentVersion(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"$indexDir: no committed index version"))
    val deltas = ChangesetStore.readDeltas(spark, indexDir, v)
    val toCompact = deltas.filter(_._2.size >= minDeltas).keySet
    if (toCompact.isEmpty) return v
    val next = v + 1
    val manifest = ChangesetStore.readManifest(spark, indexDir, v)
    val merged = liveCellRows(spark, indexDir, v, toCompact).get
    // fold write ∥ codebook carry (§2.6) — independent pre-commit writes
    val (written, _) = Par.run2(
      () => ChangesetStore.stageAndInstall(spark, indexDir, byCell(merged), next, "v"),
      () => carryCodebook(spark, indexDir, v, next))
    // a compacted cell whose live view emptied (everything tombstoned)
    // stages no partition: drop it from the manifest entirely
    val base = written.map(_ -> next).toMap
    ChangesetStore.writeManifest(spark, indexDir, next,
      manifest -- toCompact ++ base, deltas -- toCompact)
    ChangesetStore.commitPointer(spark, indexDir, next)
    gc(spark, indexDir, v, toCompact, base, Map.empty)
    next
  }

  /** The live codebook: K rows, collected driver-side (an index probe's
    * first step everywhere — K is broadcast-scale by construction).
    */
  def centroids(spark: SparkSession, indexDir: String): Array[(Long, Seq[Float], Long)] = {
    val v = ChangesetStore.currentVersion(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"$indexDir: no committed index version"))
    spark.read.schema("cid BIGINT, embedding ARRAY<FLOAT>").parquet(s"$indexDir/centroids-v$v")
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1), Ann.n2Of(r.getSeq[Float](1))))
  }

  /** Serves top-`k` neighbors per query FROM THE ARTIFACT ALONE: queries
    * score the codebook map-side, explode into their `nprobe` best cells,
    * and only those cells' live directories are opened (manifest lookup —
    * directory-level pruning); exact cosine rerank inside the probed
    * cells. The corpus table is not an input — build once, append daily,
    * probe forever.
    *
    * @param queries frame with (vec_id, embedding)
    */
  def probe(spark: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int = 2, k: Int = 3): DataFrame = {
    val v = ChangesetStore.currentVersion(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"$indexDir: no committed index version"))
    val cents = centroids(spark, indexDir)
    val probes = withN2(queries.select("vec_id", "embedding"))
      .withColumn("probe", explode(
        slice(reverse(sort_array(Ann.cellScores(cents)(col("embedding"), col("n2")))), 1, nprobe)))
      .select((-col("probe.nid")).as("cell"), col("vec_id").as("q_id"),
        col("embedding").as("qe"), col("n2").as("qn2"))

    // queries are the small side by contract: the touched-cell set is a
    // tiny collect, and only those cells' live artifacts (base + pending
    // deltas, merged latest-wins) are ever opened
    val touched = probes.select("cell").distinct().collect()
      .map(_.getLong(0).toInt).toSet
    val live = liveCellRows(spark, indexDir, v, touched).getOrElse(
      return probes.select(col("q_id"), col("q_id").as("n_id"),
        lit(0).as("rnk"), col("cell"), lit(0.0).as("cos")).limit(0))

    live
      .select(col("cell"), col("vec_id").as("n_id"),
        col("embedding").as("ne"), col("n2").as("nn2"))
      .join(broadcast(probes), Seq("cell"))
      .withColumn("cos",
        Ann.cosine(Ann.dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))))
      .filter(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "cell", "cos")
  }

  /** Driver-checked key `ann_ivf_store`: build the index artifact ONCE
    * from most of the corpus, [[append]] the remainder as an incremental
    * (delta) batch (fixed vec_id 8..15 centroids — the [[Ann.annIvf]]
    * codebook), [[compactCells]] the deltas, then serve the queries from
    * the artifact. Build + append + compact must be indistinguishable
    * from a one-shot build, so this shares the `ann_ivf` oracle verbatim
    * — and the compacted probe keeps the broadcast-join-only plan the
    * PlanAudit pins (un-compacted delta probing is covered by
    * IvfIndexSpec's append≡one-shot case).
    */
  def annIvfStore(s: SparkSession, dir: String): DataFrame = {
    val e = Ann.withNorm(s, dir)
    val cents = e.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val idx = Scratch.scratch("graft-ivf-idx").toString
    val corpus = e.filter(col("vec_id") >= 8).select("vec_id", "embedding")
    // locator buckets sized to the corpus: the 64-bucket default is the
    // 100 TB layout; at driver-check scale it is pure small-file overhead
    build(s, corpus.filter(col("vec_id") % 5 =!= 0), cents, idx, locatorBuckets = 8)
    append(s, corpus.filter(col("vec_id") % 5 === 0), idx, locatorBuckets = 8)
    compactCells(s, idx, minDeltas = 1)
    probe(s, idx, e.filter(col("vec_id") < 8).select("vec_id", "embedding"))
  }
}
