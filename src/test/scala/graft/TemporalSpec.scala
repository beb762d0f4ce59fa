package graft

import graft.operators.{AsofJoin, MinorVersions}
import org.apache.spark.sql.functions._

class TemporalSpec extends SparkSpec {

  test("asof join attaches the latest right row at or before each left ts") {
    import spark.implicits._
    val trades = Seq((1L, 100L, "t1"), (1L, 205L, "t2"), (2L, 50L, "t3"))
      .toDF("key", "ts", "trade")
    val quotes = Seq((1L, 90L, 10.0), (1L, 200L, 11.0), (1L, 300L, 12.0),
      (2L, 60L, 5.0))
      .toDF("key", "qts", "price")
    val out = AsofJoin.asof(trades, quotes, "key", "ts", "qts", Seq("price"))
      .orderBy("key", "ts").collect()
    assert(out.map(r => (r.getAs[String]("trade"), Option(r.getAs[Any]("price")))) ===
      Seq(("t1", Some(10.0)), ("t2", Some(11.0)), ("t3", None)))
  }

  test("asof join: equal timestamps match (<= semantics)") {
    import spark.implicits._
    val l = Seq((1L, 100L)).toDF("key", "ts")
    val r = Seq((1L, 100L, "exact")).toDF("key", "qts", "v")
    val out = AsofJoin.asof(l, r, "key", "ts", "qts", Seq("v")).collect()
    assert(out.head.getAs[String]("v") === "exact")
  }

  test("asof join: matched right row with NULL value yields NULL, not an older back-fill") {
    import spark.implicits._
    val l = Seq((1L, 300L)).toDF("key", "ts")
    // latest right row at ts 200 has price NULL but size 7 — row semantics
    // demand (NULL, 7), never (10.0 from ts 100, 7) mixed across rows
    val r = Seq(
      (1L, 100L, Some(10.0), Some(3L)),
      (1L, 200L, None: Option[Double], Some(7L)))
      .toDF("key", "qts", "price", "size")
    val out = AsofJoin.asof(l, r, "key", "ts", "qts", Seq("price", "size")).collect()
    assert(out.length === 1)
    assert(out.head.isNullAt(out.head.fieldIndex("price")), "NULL in matched row must survive")
    assert(out.head.getAs[Long]("size") === 7L)
  }

  test("asofNearest: nearest either direction, earlier on ties, tolerance drops") {
    import spark.implicits._
    val l = Seq((1L, 100L, "a"), (1L, 200L, "b"), (1L, 1000L, "c"),
      (2L, 50L, "d")).toDF("key", "ts", "tag")
    val r = Seq((1L, 90L, "p90"), (1L, 210L, "p210"), (1L, 190L, "p190"))
      .toDF("key", "qts", "v")
    val out = AsofJoin.asofNearest(l, r, "key", "ts", "qts", Seq("v"), 50L)
      .collect().map(row => row.getAs[String]("tag") ->
        (Option(row.getAs[String]("v")), Option(row.getAs[Any]("delta_us"))))
      .toMap
    // a: prev 90 (d=10) beats next 190 (d=90)
    assert(out("a") === ((Some("p90"), Some(10L))))
    // b: prev 190 (d=10) TIES next 210 (d=10) → earlier wins
    assert(out("b") === ((Some("p190"), Some(10L))))
    // c: nearest is 210 at d=790 > tolerance 50 → dropped
    assert(out("c") === ((None, None)))
    // d: key 2 has no reference rows at all
    assert(out("d") === ((None, None)))
    // forward-only match within tolerance: the case plain asof gets wrong
    val fwd = AsofJoin.asofNearest(
      Seq((1L, 80L, "x")).toDF("key", "ts", "tag"),
      r, "key", "ts", "qts", Seq("v"), 50L).collect()
    assert(fwd.head.getAs[String]("v") === "p90")
    val onlyAfter = AsofJoin.asofNearest(
      Seq((1L, 60L, "y")).toDF("key", "ts", "tag"),
      Seq((1L, 90L, "p90")).toDF("key", "qts", "v"),
      "key", "ts", "qts", Seq("v"), 50L).collect()
    assert(onlyAfter.head.getAs[String]("v") === "p90",
      "a later-only reference within tolerance must match")
  }

  test("q13_asof: one row per click, purchases at-or-before, user-consistent") {
    val clicks = operators.Temporal.q13Asof(spark, sfDir).collect()
    val nClicks = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "click").count()
    assert(clicks.length.toLong === nClicks)
    clicks.foreach { r =>
      if (!r.isNullAt(3)) { // matched purchase
        assert(r.getLong(5) <= r.getLong(2), "purchase ts must be <= click ts")
      } else assert(r.isNullAt(4) && r.isNullAt(5), "null purchase is all-null")
    }
    assert(clicks.exists(!_.isNullAt(3)), "some click should match a purchase")
    assert(clicks.exists(_.isNullAt(3)), "earliest clicks should have no prior purchase")
  }

  test("minor versions: member edits within a version interval increment the counter") {
    import spark.implicits._
    val ways = Seq(
      (42L, 1, 100L, Seq(10L, 13L)),
      (42L, 2, 500L, Seq(10L, 13L, 14L)))
      .toDF("way_id", "osm_version", "valid_from", "refs")
    val nodeEdits = Seq(
      (10L, 200L), // member change in v1 window → v1 minor 1
      (13L, 300L), // member change in v1 window → v1 minor 2
      (10L, 600L), // member change in v2 window → v2 minor 1
      (99L, 250L)) // not a member → ignored
      .toDF("node_id", "ts")
    val out = MinorVersions.compute(ways, nodeEdits).collect()
    val rows = out.map(r => (r.getAs[Int]("osm_version"),
      r.getAs[Int]("osm_minor_version"), r.getAs[String]("trigger")))
    assert(rows.toSeq === Seq(
      (1, 0, "MAJOR"), (1, 1, "MINOR_GEOMETRY"), (1, 2, "MINOR_GEOMETRY"),
      (2, 0, "MAJOR"), (2, 1, "MINOR_GEOMETRY")))
  }

  test("relation minors cascade: node move → way minor → relation minor") {
    import spark.implicits._
    val ways = Seq((42L, 1, 100L, Seq(10L, 13L)))
      .toDF("way_id", "osm_version", "valid_from", "refs")
    val nodeEdits = Seq((10L, 50L), (13L, 50L), (10L, 200L))
      .toDF("node_id", "ts")
    // the way's timeline: its major row at 100 + node-induced minor at 200
    val wayTimeline = MinorVersions.compute(ways, nodeEdits)
      .select(col("way_id"), col("ts"))
    // relation 7 holds way 42, created at ts 80 (before the way's v1 row)
    val rels = Seq((7L, 1, 80L, Seq(42L)))
      .toDF("rel_id", "osm_version", "valid_from", "way_ids")
    val out = MinorVersions.relationMinors(rels, wayTimeline)
      .collect().map(r => (r.getAs[Long]("rel_id"), r.getAs[Int]("osm_version"),
        r.getAs[Int]("osm_minor_version"), r.getAs[String]("trigger")))
    // relation gets its major row + a minor for the way's major (100) +
    // a minor for the node-induced way minor (200): the full cascade
    assert(out.toSeq === Seq(
      (7L, 1, 0, "MAJOR"), (7L, 1, 1, "MINOR_GEOMETRY"), (7L, 1, 2, "MINOR_GEOMETRY")))
  }

  test("changeset-db enrichment joins editor and hashtags onto contributions") {
    import spark.implicits._
    import graft.operators.Changesets
    val contribs = Seq((1L, 101L), (2L, 102L), (3L, 999L))
      .toDF("osm_id", "changeset")
    val csDb = Seq(
      (101L, "2024-01-01T00:00:00Z", "2024-01-01T00:30:00Z", 12L,
        // the dedicated `hashtags` tag AND the comment BOTH contribute
        // (ChangesetHashtags.java:22): hotosm-1 only in hashtags,
        // mapathon in both (distinct folds it), 99 filtered (digits),
        // and the URL strip applies per field
        Map("hashtags" -> "#hotosm-1 #mapathon #99 http://h.org/#z",
          "comment" -> "fix roads #mapathon see http://x.org/#frag",
          "created_by" -> "iD 2.27")),
      (102L, "2024-01-02T00:00:00Z", "", 1L, Map[String, String]()))
      .toDF("id", "created_at", "closed_at", "num_changes", "tags")
    val out = Changesets.enrichWithChangesetDb(contribs, csDb)
      .orderBy("osm_id").collect()
    assert(out(0).getAs[String]("cs_editor") === "iD 2.27")
    assert(out(0).getAs[String]("cs_hashtags") === "hotosm-1,mapathon")
    assert(out(0).getAs[Long]("cs_num_changes") === 12L)
    assert(out(1).getAs[String]("cs_editor") === null) // no created_by tag
    assert(out(1).getAs[String]("cs_hashtags") === "")
    assert(out(2).getAs[Any]("cs_num_changes") === null) // unknown changeset: left join
  }
}
