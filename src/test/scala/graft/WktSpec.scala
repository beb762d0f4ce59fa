package graft

import graft.functions.Geo
import graft.sources.WktBoundaries
import org.apache.spark.sql.functions._

class WktSpec extends SparkSpec {

  test("parseWkt: POLYGON with hole → two rings, closing vertex dropped") {
    val mr = WktBoundaries.parseWkt(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(mr.offs.toSeq === Seq(0, 4, 8))
    assert(mr.xs.toSeq === Seq(0.0, 10, 10, 0, 4, 6, 6, 4))
    assert(mr.ys.toSeq === Seq(0.0, 0, 10, 10, 4, 4, 6, 6))
  }

  test("parseWkt: MULTIPOLYGON with decimals and loose whitespace") {
    val mr = WktBoundaries.parseWkt(
      "MULTIPOLYGON ( ((7.954102 49.781264, 11.118164 49.781264, 11.118164 51.563412, 7.954102 49.781264)) ,  ((1.5 2.5, 3.5 2.5, 3.5 4.5, 1.5 2.5)) )")
    assert(mr.offs.toSeq === Seq(0, 3, 6))
    assert(mr.xs(0) === 7.954102 && mr.ys(2) === 51.563412)
    assert(mr.xs(3) === 1.5 && mr.ys(5) === 4.5)
  }

  test("pointInRings: even-odd across shell, hole, and disjoint part") {
    // square with a hole + a disjoint square
    val mr = WktBoundaries.parseWkt(
      "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4)), ((20 20, 30 20, 30 30, 20 30, 20 20)))")
    def in(x: Double, y: Double) = Geo.pointInRings(x, y, mr.xs, mr.ys, mr.offs)
    assert(in(2, 2), "in shell")
    assert(!in(5, 5), "in hole → outside")
    assert(in(25, 25), "in second part")
    assert(!in(15, 15), "between parts")
    assert(!in(-1, 5), "outside all")
  }

  test("grid cells: full-cell short-circuit only where provable, refine elsewhere") {
    // concave L over a 10×10 cell grid: [0,30]×[0,30] minus (10,30]×(10,30]
    val mr = WktBoundaries.parseWkt(
      "POLYGON ((0 0, 30 0, 30 10, 10 10, 10 30, 0 30, 0 0))")
    val cells = WktBoundaries.gridCells(Seq(("L", mr)), 10, 10, 100)
    val byId = cells.map(c => (c.scid, c.full_cell)).toMap
    // cell (1,0) = scid 1 spans [10,20]×[0,10]: all boundary-touching → partial
    // the strictly-interior probe: no cell is strictly inside (every cell
    // corner touches a ring edge) — so every kept cell is partial here
    assert(cells.nonEmpty)
    // the empty quadrant's interior cell (2,2) = scid 202 spans [20,30]×[20,30]:
    // its edges touch the shell bbox? segment-bbox of edge (30 0)-(30 10) no;
    // edge (10 10)-(10 30) has bbox x=10, y=[10,30] — touches cells x∈[10,?]…
    // assert it is NOT full (it's outside)
    assert(!byId.get(202L).exists(identity), "outside cell must not be full")
    // shift the polygon so interior cells exist: [0,40]×[0,40] square
    val sq = WktBoundaries.parseWkt("POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))")
    val c2 = WktBoundaries.gridCells(Seq(("S", sq)), 10, 10, 100)
    val full = c2.filter(_.full_cell).map(_.scid).toSet
    // interior cells (1..2, 1..2): scids 101,102,201,202 are fully inside
    assert(Set(101L, 102L, 201L, 202L).subsetOf(full))
    // full rows carry no geometry (broadcast stays small)
    assert(c2.filter(_.full_cell).forall(c => c.xs.isEmpty && c.offs.isEmpty))
    // edge cells are partial
    assert(c2.exists(c => !c.full_cell))
  }

  test("readCountryCsv: header detection (iso_a3 + wkt), reference rules") {
    val p = java.nio.file.Files.createTempFile("graft_wkt", ".csv")
    java.nio.file.Files.write(p,
      ("ISO_A3;wkt\nDEU;POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))\n" +
        "FRA;MULTIPOLYGON (((10 10, 12 10, 12 12, 10 12, 10 10)))\n").getBytes)
    val feats = WktBoundaries.readCountryCsv(p.toString)
    assert(feats.map(_._1) === Seq("DEU", "FRA"))
    assert(feats.head._2.offs.toSeq === Seq(0, 4))
  }

  test("readCountryCsv: malformed data row fails with file and line context") {
    val p = java.nio.file.Files.createTempFile("graft_wkt_bad", ".csv")
    java.nio.file.Files.write(p,
      "id;geometry\nDEU;POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))\nFRA\n".getBytes)
    val e = intercept[IllegalArgumentException] {
      WktBoundaries.readCountryCsv(p.toString)
    }
    assert(e.getMessage.contains(p.toString) && e.getMessage.contains("row 3"))
  }

  test("withCountries: per-row countries array from a lon/lat country file") {
    import spark.implicits._
    // the docs/CLI.md example shape: boxes in degree space, plus an overlap
    val p = java.nio.file.Files.createTempFile("graft_wkt_cc", ".csv")
    java.nio.file.Files.write(p,
      ("id;wkt\n" +
        "DEU;POLYGON ((7.95 49.78, 11.12 49.78, 11.12 51.56, 7.95 51.56, 7.95 49.78))\n" +
        "FRA;POLYGON ((1.19 45.06, 4.83 45.06, 4.83 48.55, 1.19 48.55, 1.19 45.06))\n" +
        "EUX;POLYGON ((0.0 40.0, 12.0 40.0, 12.0 52.0, 0.0 52.0, 0.0 40.0))\n").getBytes)
    val df = Seq(
      (1L, Some(9.0), Some(50.5)),    // inside DEU and EUX
      (2L, Some(2.5), Some(46.0)),    // inside FRA and EUX
      (3L, Some(-10.0), Some(50.0)),  // nowhere
      (4L, None, None))               // no geometry (way/relation row)
      .toDF("id", "lon", "lat")
    val out = operators.Contributions.withCountries(df, p.toString)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](3).toList))
    assert(out.toSeq === Seq(
      (1L, List("DEU", "EUX")),
      (2L, List("EUX", "FRA")),
      (3L, Nil),
      (4L, Nil)))
  }

  test("geo_wkt_join matches a brute-force multi-ring ray-cast (no grid)") {
    val out = operators.Geometry.geoWktJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    // brute force: every (point, country) pair, pure refine
    val csv = operators.Geometry.wktCountryFixture(spark, sfDir)
    val feats = WktBoundaries.readCountryCsv(csv)
    val pts = Tables.events(spark, sfDir)
      .select(col("event_id"),
        ((col("event_id") * 7919) % 36000).as("xi"),
        ((col("event_id") * 104729) % 18000).as("yi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (id, x, y) <- pts
      (c, mr) <- feats
      if Geo.pointInRings(x.toDouble, y.toDouble, mr.xs, mr.ys, mr.offs)
    } yield (id, c)).toSet
    assert(out === brute)
    assert(out.nonEmpty, "some points must land inside the fixture polygons")
  }

  test("withCountries matches a brute-force pointInRings over every feature") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempFile("graft_wkt_idx", ".csv")
    java.nio.file.Files.write(p,
      ("id;wkt\n" +
        "DEU;POLYGON ((7.95 49.78, 11.12 49.78, 11.12 51.56, 7.95 51.56, 7.95 49.78))\n" +
        "FRA;POLYGON ((1.19 45.06, 4.83 45.06, 4.83 48.55, 1.19 48.55, 1.19 45.06))\n" +
        "EUX;POLYGON ((0.0 40.0, 12.0 40.0, 12.0 52.0, 0.0 52.0, 0.0 40.0))\n").getBytes)
    val rnd = new scala.util.Random(7)
    val pts = (1L to 300L).map(i =>
      (i, Some(rnd.nextDouble() * 30 - 10), Some(rnd.nextDouble() * 30 + 35))) :+
      ((301L, None, None))
    val df = pts.toDF("id", "lon", "lat")
    val grid = operators.Contributions.withCountries(df, p.toString)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[String](3).toList)).toSeq
    // brute force: every (point, feature) pair through the ring test alone
    val feats = WktBoundaries.readCountryCsv(p.toString)
    val brute = pts.map {
      case (id, Some(lon), Some(lat)) =>
        val in = feats.filter { case (_, mr) => Geo.pointInRings(lon, lat, mr.xs, mr.ys, mr.offs) }
        (id, in.map(_._1).distinct.sorted.toList)
      case (id, _, _) => (id, Nil)
    }
    assert(grid === brute, "the grid joiner must agree with the brute force row for row")
    assert(grid.exists(_._2.nonEmpty), "fixture must produce hits")
  }
}
