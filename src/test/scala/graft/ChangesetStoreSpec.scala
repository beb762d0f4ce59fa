package graft

import graft.sources.ChangesetStore
import org.apache.spark.sql.functions._

/** Versioned bucketed upsert store lifecycle (ChangesetDB.java analog). */
class ChangesetStoreSpec extends SparkSpec {

  test("upsert: initial load, latest-wins refresh, version GC, crash-resume") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-spec").toString
    val keys = Seq("user_id", "cs_seq")
    // one bucket: every upsert rewrites it, so each version's bucket dir
    // and manifest are the whole store
    def upsert(rows: Seq[(Long, Long, Long)]) = ChangesetStore.upsertBucketed(
      spark, dir, rows.toDF("user_id", "cs_seq", "closed_at"), keys, numBuckets = 1)
    def exists(rel: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(dir, rel))

    assert(upsert(Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 0L, 30L))) === 1)
    assert(ChangesetStore.currentVersion(spark, dir) === Some(1))

    // refresh: user 2's session extends, user 4 appears
    assert(upsert(Seq((2L, 0L, 25L), (4L, 0L, 40L))) === 2)
    val rows = ChangesetStore.readAuto(spark, dir)
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.toSeq === Seq((1L, 10L), (2L, 25L), (3L, 30L), (4L, 40L)))

    // third upsert GCs version 1 (keeps the previous version only)
    assert(upsert(Seq((5L, 0L, 50L))) === 3)
    assert(!exists("b=0/v=1") && !exists("manifest-v1.json"))
    assert(exists("b=0/v=2") && exists("manifest-v2.json"))

    // crash simulation: an orphan b=0/v=4 exists but the pointer still
    // says 3 — readers see 3, and the next upsert overwrites the orphan
    // and commits 4
    Seq((9L, 9L, 99L)).toDF("user_id", "cs_seq", "closed_at")
      .write.mode("overwrite").parquet(s"$dir/b=0/v=4")
    assert(ChangesetStore.currentVersion(spark, dir) === Some(3))
    assert(!ChangesetStore.readAuto(spark, dir).collect().exists(_.getLong(0) == 9L))
    assert(upsert(Seq((6L, 0L, 60L))) === 4)
    val after = ChangesetStore.readAuto(spark, dir).select("user_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after === Seq(1L, 2L, 3L, 4L, 5L, 6L), "orphan rows must not leak in")
  }

  test("bucketed upsert rewrites only touched buckets; untouched files stay put") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-bspec").toString
    val nb = 8

    val b1 = (1L to 20L).map(k => (k, 0L, k * 10)).toDF("user_id", "cs_seq", "closed_at")
    assert(ChangesetStore.upsertBucketed(spark, dir, b1, Seq("user_id", "cs_seq"), nb) === 1)
    val m1 = ChangesetStore.readManifest(spark, dir, 1)
    assert(m1.values.forall(_ === 1))

    // refresh exactly one key → only its bucket (and no other) moves to v2
    val b2 = Seq((7L, 0L, 777L)).toDF("user_id", "cs_seq", "closed_at")
    assert(ChangesetStore.upsertBucketed(spark, dir, b2, Seq("user_id", "cs_seq"), nb) === 2)
    val m2 = ChangesetStore.readManifest(spark, dir, 2)
    val movedBuckets = m2.filter(_._2 == 2).keySet
    assert(movedBuckets.size === 1, s"exactly one bucket should move, got $m2")
    assert(m2.filterNot(t => movedBuckets(t._1)).values.forall(_ === 1),
      "untouched buckets must keep their v1 entries")
    // untouched bucket DIRECTORIES were not rewritten — still only v=1
    m2.keys.filterNot(movedBuckets).foreach { b =>
      val vs = new java.io.File(s"$dir/b=$b").listFiles().map(_.getName).toSet
      assert(vs === Set("v=1"), s"bucket $b must be untouched, has $vs")
    }

    // content: latest-wins for key 7, everything else carried
    val rows = ChangesetStore.readAuto(spark, dir)
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.toSeq === (1L to 20L).map(k => (k, if (k == 7) 777L else k * 10)))

    // crash immunity: an orphan staged bucket install without a pointer
    // bump is deleted and rewritten by the next upsert
    val orphanBucket = movedBuckets.head
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/b=$orphanBucket/v=3"))
    val b3 = Seq((7L, 0L, 7777L)).toDF("user_id", "cs_seq", "closed_at")
    assert(ChangesetStore.upsertBucketed(spark, dir, b3, Seq("user_id", "cs_seq"), nb) === 3)
    val after = ChangesetStore.readAuto(spark, dir)
      .filter($"user_id" === 7L).collect()
    assert(after.length === 1 && after.head.getLong(2) === 7777L)
  }

  test("pointer loss recovers the committed store instead of discarding it") {
    import spark.implicits._
    // kill `current` → recovery finds the highest committed manifest and
    // the next upsert still merges, not restarts
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-ptr").toString
    val ptr = java.nio.file.Paths.get(dir, "current")
    val keys = Seq("user_id", "cs_seq")
    val b1 = (1L to 8L).map(k => (k, 0L, k)).toDF("user_id", "cs_seq", "closed_at")
    assert(ChangesetStore.upsertBucketed(spark, dir, b1, keys, 4) === 1)
    java.nio.file.Files.delete(ptr)
    assert(ChangesetStore.currentVersion(spark, dir) === Some(1),
      "recovery must find the committed version")
    // the recovery healed the pointer file
    assert(java.nio.file.Files.exists(ptr))
    java.nio.file.Files.delete(ptr)
    val b2 = Seq((9L, 0L, 9L)).toDF("user_id", "cs_seq", "closed_at")
    assert(ChangesetStore.upsertBucketed(spark, dir, b2, keys, 4) === 2)
    val users = ChangesetStore.readAuto(spark, dir)
      .select("user_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(users === (1L to 9L), "upsert after pointer loss must keep old rows")
  }

  test("a snapshot-layout store fails loudly, with or without its pointer") {
    import spark.implicits._
    // the retired full-rewrite layout: `v=1/` plain parquet, no manifest
    def snapshotStore(withPointer: Boolean): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-cs-snap").toString
      Seq((1L, "a")).toDF("id", "value").write.parquet(s"$dir/v=1")
      if (withPointer) java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "current"), "1")
      dir
    }
    def assertRefused(dir: String)(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage === s"$dir: snapshot-layout store; rebuild it")
    }
    val batch = Seq((2L, "b")).toDF("id", "value")

    // the pointer names version 1, which has no manifest
    val pointed = snapshotStore(withPointer = true)
    assertRefused(pointed)(ChangesetStore.readAuto(spark, pointed))
    assertRefused(pointed)(
      ChangesetStore.readBucketsFor(spark, pointed, batch.select("id"), Seq("id")))
    assertRefused(pointed)(ChangesetStore.upsertBucketed(spark, pointed, batch, Seq("id")))

    // no pointer: recovery finds `v=1` but no manifest — it must not
    // restart the store at v1 over the loaded rows
    val bare = snapshotStore(withPointer = false)
    assertRefused(bare)(ChangesetStore.currentVersion(spark, bare))
    assertRefused(bare)(ChangesetStore.upsertBucketed(spark, bare, batch, Seq("id")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(bare, "current")))
  }

  test("cs_db_enrich equals the one-shot sessionization enrichment") {
    val out = operators.Changesets.csDbEnrich(spark, sfDir)
    val expected = operators.Changesets.csEnrich(spark, sfDir)
      .select("event_id", "user_id", "cs_seq", "created_at", "closed_at", "num_changes")
    assert(out.count() === expected.count())
    val diff = out
      .drop("cs_comments_count")
      .withColumnRenamed("cs_created_at", "created_at")
      .withColumnRenamed("cs_closed_at", "closed_at")
      .withColumnRenamed("cs_num_changes", "num_changes")
      .exceptAll(expected)
    assert(diff.isEmpty, "store-backed enrichment must equal the global rebuild")
  }

  /** Every data file under the store with its size — the byte-audit probe
    * for O(batch) append claims.
    */
  private def dataFiles(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, Long]()
    java.nio.file.Files.walk(root).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        out(root.relativize(p).toString) = java.nio.file.Files.size(p)
    }
    out.toMap
  }

  test("appendBucketed: O(batch) delta writes, union reads, upsert + compact fold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-delta").toString
    val nb = 4

    // base: 2000 rows spread over every bucket
    val base = (1L to 2000L).map(k => (k, s"v$k")).toDF("id", "value")
    assert(ChangesetStore.upsertBucketed(spark, dir, base, Seq("id"), nb) === 1)
    val before = dataFiles(dir)
    val baseBytes = before.values.sum

    // append 20 rows that hash into (essentially) all buckets
    val batch = (3001L to 3020L).map(k => (k, s"v$k")).toDF("id", "value")
    assert(ChangesetStore.appendBucketed(spark, dir, batch, Seq("id"), nb) === 2)

    // O(batch): every pre-existing file is untouched byte-for-byte, and
    // everything new lives in d= directories totalling a small fraction
    // of the base (parquet per-file overhead dominates 20 rows)
    val after = dataFiles(dir)
    before.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz), s"append must not rewrite base file $p")
    }
    val newFiles = after -- before.keySet
    assert(newFiles.nonEmpty && newFiles.keySet.forall(_.contains("d=")),
      s"append may only add delta files, got ${newFiles.keySet}")
    assert(newFiles.values.sum < baseBytes / 2,
      s"delta bytes ${newFiles.values.sum} must be far below base $baseBytes")

    // reads see base ∪ deltas, full and pruned alike
    assert(ChangesetStore.readAuto(spark, dir).count() === 2020)
    val got = ChangesetStore.readBucketsFor(spark, dir,
      Seq(3001L, 7L).toDF("id"), Seq("id")).get
    assert(got.filter(col("id") === 3001L).count() === 1)
    assert(got.filter(col("id") === 7L).count() === 1)

    // a latest-wins upsert folds the deltas it touches: the appended key
    // must not survive twice
    val up = Seq((3001L, "NEW")).toDF("id", "value")
    assert(ChangesetStore.upsertBucketed(spark, dir, up, Seq("id"), nb) === 3)
    val r3001 = ChangesetStore.readAuto(spark, dir)
      .filter(col("id") === 3001L).collect()
    assert(r3001.length === 1 && r3001.head.getString(1) === "NEW")

    // pile up deltas past the threshold, then compact: reads unchanged,
    // delta entries cleared, fan-in back to one dir per bucket
    (1 to 4).foreach { i =>
      val b = Seq((4000L + i, s"d$i")).toDF("id", "value")
      ChangesetStore.appendBucketed(spark, dir, b, Seq("id"), nb)
    }
    val preCompact = ChangesetStore.readAuto(spark, dir)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val v = ChangesetStore.compactBucketed(spark, dir, minDeltas = 1)
    assert(v > 3, "compaction must commit a new version")
    assert(ChangesetStore.readDeltas(spark, dir, v).isEmpty,
      "compaction must clear the folded delta entries")
    val postCompact = ChangesetStore.readAuto(spark, dir)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(postCompact === preCompact, "compaction must not change the table")
    // below threshold → no-op
    assert(ChangesetStore.compactBucketed(spark, dir, minDeltas = 1) === v)
  }

  test("bucket meta pins the layout: later writers and readers adopt it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-meta").toString
    // creation with 8 buckets pins numBuckets=8
    val b1 = (1L to 100L).map(k => (k, k)).toDF("id", "x")
    ChangesetStore.upsertBucketed(spark, dir, b1, Seq("id"), numBuckets = 8)
    assert(ChangesetStore.readBucketMeta(spark, dir)
      .exists(_.numBuckets === 8))

    // a second writer passing the (wrong) 64-bucket default must adopt 8:
    // the same id keeps hashing into the same bucket
    val b2 = Seq((7L, 777L)).toDF("id", "x")
    ChangesetStore.upsertBucketed(spark, dir, b2, Seq("id"), numBuckets = 64)
    val vs = ChangesetStore.currentVersion(spark, dir).get
    assert(ChangesetStore.readManifest(spark, dir, vs).keySet.forall(_ < 8),
      "adopted layout must keep every bucket id under the pinned count")
    val r7 = ChangesetStore.readAuto(spark, dir)
      .filter(col("id") === 7L).collect()
    assert(r7.length === 1 && r7.head.getLong(1) === 777L,
      "divergent bucket counts would leave the id live in two buckets")

    // pruned reads take the pinned count: only bucket-pruned paths of the
    // 8-bucket layout, and the key is found
    val got = ChangesetStore.readBucketsFor(spark, dir,
      Seq(7L).toDF("id"), Seq("id")).get
    assert(got.filter(col("id") === 7L).count() === 1)
    assert(got.count() < 100, "the lookup must prune to the key's bucket")
  }

  test("readBucketsFor: point lookups equal the full read, pruned bucket set") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-rbf").toString
    val rows = (1L to 500L).map(i => (i, s"v$i")).toDF("id", "value")
    ChangesetStore.upsertBucketed(spark, store, rows, Seq("id"), numBuckets = 16)

    val wanted = Seq(3L, 77L, 401L)
    val keyDf = wanted.toDF("id")
    val got = ChangesetStore.readBucketsFor(spark, store, keyDf, Seq("id")).get
    // pruned read contains every wanted key with the right value...
    val byId = got.filter(col("id").isin(wanted: _*)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId === wanted.map(i => i -> s"v$i").toMap)
    // ...and strictly fewer rows than the store (buckets were pruned)
    assert(got.count() < 500, "lookup must not read the whole store")

    // keys hashing to unwritten buckets: still consistent (superset rule)
    val none = ChangesetStore.readBucketsFor(spark, store,
      Seq(9999L).toDF("id"), Seq("id"))
    assert(none.forall(_.filter(col("id") === 9999L).isEmpty))

    // empty store → None
    assert(ChangesetStore.readBucketsFor(spark,
      java.nio.file.Files.createTempDirectory("graft-rbf-empty").toString,
      keyDf, Seq("id")).isEmpty)
  }

  test("a batch spread over many input partitions installs one file per bucket") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-files").toString
    // every installed b=<i>/v=<n> dir must hold exactly one part file: the
    // task count is sized to the data, so only clustering by bucket keeps
    // 8 input partitions from writing up to 8 files into each bucket
    def assertOneFilePerBucket(v: Int): Unit =
      ChangesetStore.readManifest(spark, dir, v).foreach { case (b, bv) =>
        val parts = new java.io.File(s"$dir/b=$b/v=$bv").listFiles()
          .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        assert(parts.length === 1, s"b=$b/v=$bv holds ${parts.toSeq}")
      }

    val b1 = (1L to 500L).map(k => (k, s"v$k")).toDF("id", "value").repartition(8)
    assert(b1.rdd.getNumPartitions === 8)
    assert(ChangesetStore.upsertBucketed(spark, dir, b1, Seq("id"), numBuckets = 16) === 1)
    assert(ChangesetStore.readManifest(spark, dir, 1).keySet === (0 until 16).toSet)
    assertOneFilePerBucket(1)

    // the merge path: stored rows and an 8-partition batch fold into one
    // file per rewritten bucket
    val b2 = (1L to 500L by 2).map(k => (k, s"w$k")).toDF("id", "value").repartition(8)
    assert(ChangesetStore.upsertBucketed(spark, dir, b2, Seq("id"), numBuckets = 16) === 2)
    assert(ChangesetStore.readManifest(spark, dir, 2).values.toSet === Set(2))
    assertOneFilePerBucket(2)
    val rows = ChangesetStore.readAuto(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === (1L to 500L).map(k => k -> (if (k % 2 == 1) s"w$k" else s"v$k")).toMap)

    // an empty batch commits nothing
    assert(ChangesetStore.upsertBucketed(spark, dir,
      b2.limit(0), Seq("id"), numBuckets = 16) === 2)
  }

  test("reads use the recorded schema: a column added later reads like a merged parquet scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cs-schema").toString
    val nb = 40 // more live paths than Spark's default parallel-listing threshold (32)
    ChangesetStore.upsertBucketed(spark, dir,
      (1L to 400L).map(k => (k, s"v$k")).toDF("id", "value"), Seq("id"), nb)
    // a later writer's rows carry `seq` and touch a single bucket: every
    // other bucket file still lacks the column
    ChangesetStore.upsertBucketed(spark, dir,
      Seq((7L, "seven", 3L)).toDF("id", "value", "seq"), Seq("id"), nb)
    // a narrower batch after that keeps the column
    ChangesetStore.upsertBucketed(spark, dir,
      Seq((8L, "eight")).toDF("id", "value"), Seq("id"), nb)

    val v = ChangesetStore.currentVersion(spark, dir).get
    val live = ChangesetStore.readManifest(spark, dir, v).toSeq.sorted
      .map { case (b, bv) => s"$dir/b=$b/v=$bv" }
    assert(live.size > 32)
    val plain = spark.read.option("mergeSchema", "true").parquet(live: _*)

    // no schema-inference and no listing job: building the frame runs nothing
    var got: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { got = ChangesetStore.readAuto(spark, dir) } === 0)
    assert(got.schema === plain.schema)
    assert(got.schema.fieldNames.toSeq === Seq("id", "value", "seq"))
    assert(got.collect().toSet === plain.collect().toSet)
    val seqOf = got.collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(seqOf(7L) === Some(3L) && seqOf(8L).isEmpty && seqOf(1L).isEmpty)

    // the pruned read shares the schema
    val keys = Seq(7L, 8L).toDF("id")
    val pruned = ChangesetStore.readBucketsFor(spark, dir, keys, Seq("id")).get
    assert(pruned.schema === plain.schema)
    assert(pruned.join(keys, Seq("id"), "left_semi").collect().toSet ===
      plain.join(keys, Seq("id"), "left_semi").collect().toSet)
  }
}
