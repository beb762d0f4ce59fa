package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** One member way's line geometry, keyed to its parent relation. */
case class MemberLine(rel_id: Long, way_id: Long,
    lons: Array[Double], lats: Array[Double])

/** Assembled relation geometry. `valid` = false when the ring set still
  * trips the reference's throw paths AFTER repair
  * (GeometryBuilder.java:52-110, 245-252): a self-intersecting ring, or
  * two rings whose interiors meet (proper crossing / collinear edge
  * overlap — single-POINT contact between rings is legal geometry, per
  * the reference's own 706_mod fixture). The repair itself —
  * duplicate member ways skipped (splitWays:263-266) and
  * backtracking/overlapping segment removal (mergeSegments:261-283) — runs
  * first and is reported in `n_repaired` (vertices removed + ways
  * dropped).
  */
case class RelationRings(rel_id: Long, n_ways: Int, n_rings: Int,
    n_shells: Int, n_holes: Int, closed: Boolean, n_points: Int,
    area_deg2: Double, wkb: String, valid: Boolean, n_repaired: Int)

/** Relation (multi)polygon assembly — the osm-geometry ring-stitching +
  * shell/hole classification analog: member ways chain end-to-end (either
  * orientation) into closed rings, rings classify into outer shells and
  * their holes, and the result encodes as polygon or multipolygon WKB.
  *
  * Classification follows the reference's core rule
  * (osm-geometry GeometryBuilder.java:32-49): rings sorted by area
  * descending; each ring's nearest containing ring (scanning back through
  * larger rings) decides its role — contained in a shell → hole of that
  * shell; contained in a hole (nested island) or in nothing → shell. The
  * JTS-based overlap/touch repair paths (GeometryBuilder.java:52-110) are
  * out of scope.
  *
  * Spark shape: member explode → join way geometries (shuffle on way id)
  * → `mapGroups` per relation. The per-relation stitch is genuinely
  * imperative small-N work — the one place `mapGroups` beats expressions —
  * while all data movement stays declarative joins. Relations are tiny
  * (≤ thousands of members) so per-group state is bounded.
  */
object RelationGeometry {

  /** Chain ways into rings: repeatedly extend the current chain with an
    * unused way that starts or ends at the chain's endpoint (reversing as
    * needed); a chain closes when it returns to its first point. At a
    * junction with several continuation candidates, a way whose far end
    * returns to the chain START is preferred — at a degree-4 node where
    * two rings meet (the reference's 706_mod fixture), plain first-match
    * chaining would thread both rings into one figure-eight.
    */
  def stitch(ways: Seq[(Array[Double], Array[Double])]): Seq[(ArrayBuffer[Double], ArrayBuffer[Double], Boolean)] = {
    val remaining = ArrayBuffer.from(ways)
    val rings = ArrayBuffer[(ArrayBuffer[Double], ArrayBuffer[Double], Boolean)]()
    while (remaining.nonEmpty) {
      val (ls, la) = remaining.remove(0)
      val xs = ArrayBuffer.from(ls)
      val ys = ArrayBuffer.from(la)
      var extended = true
      while (extended && !(xs.length > 3 && xs.head == xs.last && ys.head == ys.last)) {
        val closing = remaining.indexWhere { case (wx, wy) =>
          (wx.head == xs.last && wy.head == ys.last &&
            wx.last == xs.head && wy.last == ys.head) ||
            (wx.last == xs.last && wy.last == ys.last &&
              wx.head == xs.head && wy.head == ys.head)
        }
        val i = if (closing >= 0) closing else remaining.indexWhere { case (wx, wy) =>
          (wx.head == xs.last && wy.head == ys.last) ||
            (wx.last == xs.last && wy.last == ys.last)
        }
        if (i < 0) extended = false
        else {
          val (wx, wy) = remaining.remove(i)
          if (wx.head == xs.last && wy.head == ys.last) {
            xs ++= wx.drop(1); ys ++= wy.drop(1)
          } else {
            xs ++= wx.reverse.drop(1); ys ++= wy.reverse.drop(1)
          }
        }
      }
      val closed = xs.length > 3 && xs.head == xs.last && ys.head == ys.last
      rings += ((xs, ys, closed))
    }
    rings.toSeq
  }

  // ---- ring repair (GeometryBuilder.java splitWays + mergeSegments) ----

  /** Whether point p lies on the CLOSED segment [a, b] (collinear and
    * within the bounding box) — the covers() primitive of the reference's
    * overlapping-segment test.
    */
  def pointOnSegment(px: Double, py: Double, ax: Double, ay: Double,
      bx: Double, by: Double): Boolean = {
    val cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    if (cross != 0.0) return false
    px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
      py >= math.min(ay, by) && py <= math.max(ay, by)
  }

  /** Duplicate member ways collapse to one — the reference skips a way
    * whose coordinate SET was already seen (splitWays:263-266, the doubled
    * riverbank / doubled boundary import case). Ways with fewer than two
    * points drop too. Returns (kept ways, dropped count).
    */
  def dedupeWays(ways: Seq[(Array[Double], Array[Double])]): (Seq[(Array[Double], Array[Double])], Int) = {
    val seen = scala.collection.mutable.HashSet[Set[(Double, Double)]]()
    val kept = ways.filter { case (xs, ys) =>
      xs.length >= 2 && seen.add(xs.indices.map(i => (xs(i), ys(i))).toSet)
    }
    (kept, ways.length - kept.length)
  }

  /** Backtracking-segment removal on one CLOSED ring (closing vertex
    * included): while a vertex b has its neighbor segments collinearly
    * overlapping (c back on [a,b], or [b,c] running back through a), b is
    * a spike tip — remove it. The reference runs the identical
    * wrap-around sweep when merging ring segments
    * (mergeSegments:261-283: `ab.covers(bc) || bc.covers(ab)` → drop b).
    * Returns the repaired ring (re-closed) and the number of vertices
    * removed; a ring collapsing below 3 distinct vertices returns empty.
    */
  def removeSpikes(xs0: Seq[Double], ys0: Seq[Double]): (ArrayBuffer[Double], ArrayBuffer[Double], Int) = {
    // open vertex list
    val xs = ArrayBuffer.from(xs0.dropRight(1))
    val ys = ArrayBuffer.from(ys0.dropRight(1))
    var removed = 0
    var changed = true
    while (changed && xs.length >= 3) {
      changed = false
      var i = 0
      while (i < xs.length && xs.length >= 3) {
        val n = xs.length
        val ia = (i - 1 + n) % n
        val ic = (i + 1) % n
        val spike =
          pointOnSegment(xs(ic), ys(ic), xs(ia), ys(ia), xs(i), ys(i)) ||
            pointOnSegment(xs(ia), ys(ia), xs(i), ys(i), xs(ic), ys(ic))
        if (spike) {
          xs.remove(i); ys.remove(i)
          removed += 1
          changed = true
          if (i > 0) i -= 1
        } else i += 1
      }
    }
    if (xs.length < 3) (ArrayBuffer.empty, ArrayBuffer.empty, removed + xs.length)
    else {
      xs += xs.head; ys += ys.head
      (xs, ys, removed)
    }
  }

  /** Planar shoelace area of one ring (absolute, deg²). */
  def ringArea(xs: Seq[Double], ys: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = xs.length
    while (i < n - 1) {
      acc += xs(i) * ys(i + 1) - xs(i + 1) * ys(i)
      i += 1
    }
    math.abs(acc) / 2.0
  }

  // ---- ring validity (GeometryBuilder.java:52-110 trigger conditions) --
  // canonical primitives live in graft.functions.Geo (shared with the
  // `ring_self_intersects` codegen expression / `geo_ring_valid` key)

  def segmentsIntersect(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Boolean =
    graft.functions.Geo.segmentsIntersect(ax, ay, bx, by, cx, cy, dx, dy)

  /** Self-intersection test for one CLOSED ring (closing vertex included in
    * the input): a repeated vertex (bowtie-at-node / self-touch) or any two
    * non-adjacent edges sharing a point. O(n²) — per-relation small-N work,
    * same cost class as the reference's JTS intersection checks.
    */
  def ringSelfIntersects(xs: Seq[Double], ys: Seq[Double]): Boolean = {
    val n = xs.length - 1 // open-ring vertex/edge count; edge i = (i, i+1 mod n)
    if (n < 3) return true
    val seen = scala.collection.mutable.HashSet[(Double, Double)]()
    for (i <- 0 until n) if (!seen.add((xs(i), ys(i)))) return true
    for (i <- 0 until n; j <- i + 2 until n if !(i == 0 && j == n - 1)) {
      if (segmentsIntersect(xs(i), ys(i), xs(i + 1), ys(i + 1),
        xs(j), ys(j), xs(j + 1), ys(j + 1))) return true
    }
    false
  }

  /** Contact class of two segments: 0 = disjoint, 1 = single-point touch
    * (shared endpoint or endpoint-on-edge — OGC-legal between rings),
    * 2 = proper crossing or collinear overlap of positive length
    * (interiors meet — invalid). Exact for grid-valued doubles.
    */
  def segContact(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Int = {
    def orient(px: Double, py: Double, qx: Double, qy: Double,
        rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    def onSeg(px: Double, py: Double, qx: Double, qy: Double,
        rx: Double, ry: Double): Boolean =
      math.min(px, qx) <= rx && rx <= math.max(px, qx) &&
        math.min(py, qy) <= ry && ry <= math.max(py, qy)
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    if (o1 != 0 || o2 != 0 || o3 != 0 || o4 != 0) {
      if (((o1 > 0) != (o2 > 0)) && ((o3 > 0) != (o4 > 0)) &&
        o1 != 0 && o2 != 0 && o3 != 0 && o4 != 0) 2 // proper crossing
      else if ((o1 == 0 && onSeg(ax, ay, bx, by, cx, cy)) ||
        (o2 == 0 && onSeg(ax, ay, bx, by, dx, dy)) ||
        (o3 == 0 && onSeg(cx, cy, dx, dy, ax, ay)) ||
        (o4 == 0 && onSeg(cx, cy, dx, dy, bx, by))) 1 // point touch
      else 0
    } else {
      // all four collinear: 1-D overlap extent decides line vs point
      val useX = math.abs(bx - ax) >= math.abs(by - ay)
      val (a0, b0, c0, d0) =
        if (useX) (ax, bx, cx, dx) else (ay, by, cy, dy)
      val lo = math.max(math.min(a0, b0), math.min(c0, d0))
      val hi = math.min(math.max(a0, b0), math.max(c0, d0))
      if (lo > hi) 0 else if (lo < hi) 2 else 1
    }
  }

  /** Worst contact class between two CLOSED rings (closing vertex in the
    * input): 0 disjoint, 1 finite point contact, 2 crossing/line overlap.
    * Point contact between rings is VALID geometry — the reference's own
    * fixture corpus pins this (osm-geometry mod/706_mod: two outers
    * sharing a vertex → valid multipolygon; mod/756_mod: inner touching
    * outer in a LINE → invalid).
    */
  def ringsContact(ax: Seq[Double], ay: Seq[Double],
      bx: Seq[Double], by: Seq[Double]): Int = {
    val na = ax.length - 1
    val nb = bx.length - 1
    var worst = 0
    var i = 0
    while (i < na && worst < 2) {
      var j = 0
      while (j < nb && worst < 2) {
        val c = segContact(ax(i), ay(i), ax(i + 1), ay(i + 1),
          bx(j), by(j), bx(j + 1), by(j + 1))
        if (c > worst) worst = c
        j += 1
      }
      i += 1
    }
    worst
  }

  /** One classified shell with its direct holes (ring = coordinate pair). */
  case class ShellWithHoles(shell: (ArrayBuffer[Double], ArrayBuffer[Double]),
      holes: ArrayBuffer[(ArrayBuffer[Double], ArrayBuffer[Double])])

  /** Shell/hole classification of closed rings, reference rule
    * (GeometryBuilder.java:32-49): area-descending order, nearest container
    * decides. Containment probes with the first vertex NOT lying on the
    * candidate container's boundary — a ring touching its container at a
    * vertex (OGC-legal, reference fixture 722_mod) would otherwise get an
    * arbitrary even-odd answer for the on-boundary point.
    */
  def classify(closedRings: Seq[(ArrayBuffer[Double], ArrayBuffer[Double])]): Seq[ShellWithHoles] = {
    val sorted = closedRings.map(r => (r, ringArea(r._1.toSeq, r._2.toSeq)))
      .sortBy(-_._2).map(_._1)
    def onBoundary(px: Double, py: Double,
        cx: ArrayBuffer[Double], cy: ArrayBuffer[Double]): Boolean = {
      var k = 0
      while (k < cx.length - 1) {
        if (pointOnSegment(px, py, cx(k), cy(k), cx(k + 1), cy(k + 1)))
          return true
        k += 1
      }
      false
    }
    def contained(xs: ArrayBuffer[Double], ys: ArrayBuffer[Double],
        cx: ArrayBuffer[Double], cy: ArrayBuffer[Double]): Boolean = {
      var v = 0
      while (v < xs.length - 1) {
        if (!onBoundary(xs(v), ys(v), cx, cy))
          return graft.functions.Geo.pointInRingD(xs(v), ys(v), cx.toSeq, cy.toSeq)
        v += 1
      }
      // every vertex on the container's boundary: treat as contained
      // (a ring tracing its container is the repair path either way)
      true
    }
    val shells = ArrayBuffer[ShellWithHoles]()
    val roles = new Array[Int](sorted.length) // index into shells, or -1 for hole
    for (i <- sorted.indices) {
      val (xs, ys) = sorted(i)
      // nearest container: the smallest already-placed ring containing us
      var container = -1
      var j = i - 1
      while (container < 0 && j >= 0) {
        val (cx, cy) = sorted(j)
        if (contained(xs, ys, cx, cy))
          container = j
        else j -= 1
      }
      if (container >= 0 && roles(container) >= 0) {
        // contained directly in a shell → one of its holes
        shells(roles(container)).holes += ((xs, ys))
        roles(i) = -1
      } else {
        // top-level, or an island nested inside a hole → new shell
        shells += ShellWithHoles((xs, ys), ArrayBuffer.empty)
        roles(i) = shells.length - 1
      }
    }
    shells.toSeq
  }

  /** Keeps only relations whose tag map contains at least one of `keys` —
    * the `--filter-relation-tag-keys` contract (Contributions.java:95-100:
    * comma-separated osm tag keys select which relations are processed).
    * `relTags` = (rel_id, tags: Map[String, String]); the filtered key set
    * broadcasts, members never shuffle for the filter.
    */
  def filterByTagKeys(members: DataFrame, relTags: DataFrame,
      keys: Seq[String]): DataFrame = {
    if (keys.isEmpty) return members
    val keep = relTags.filter(
      keys.map(k => map_contains_key(col("tags"), lit(k))).reduce(_ || _))
      .select("rel_id")
    members.join(broadcast(keep), Seq("rel_id"), "left_semi")
  }

  /** The reference's relation-type gate (ContributionGeometry
    * .relIsMultipolygon:70-73): only `type=multipolygon` or
    * `type=boundary` (case-insensitive) relations get ring assembly.
    */
  def relIsMultipolygon(tags: Column): Column =
    lower(coalesce(element_at(tags, lit("type")), lit("")))
      .isin("multipolygon", "boundary")

  /** Type-gated assembly — the full reference dispatch
    * (ContributionGeometry.relGeometry:75-80): multipolygon/boundary
    * relations run ring assembly ([[assemble]], Polygon/MultiPolygon
    * WKB); every other relation falls back to a GeometryCollection of its
    * members' line geometries (relGeometryCollection:104-111 — members
    * with no resolvable geometry are filtered, the rest appended in
    * deterministic way-id order, matching [[assemble]]'s member order).
    *
    * Spark shape: the gate is one broadcast-size join on rel_id; the
    * collection branch is the same member ⋈ way-geometry shuffle as
    * assembly followed by a plain hash aggregate — string concat of
    * member WKB hexes, no per-group imperative work at all.
    *
    * @param relTags (rel_id, tags: Map[String, String])
    */
  def assembleTyped(members: DataFrame, wayGeoms: DataFrame,
      relTags: DataFrame, memberLimit: Int = DefaultMemberLimit): DataFrame = {
    val typed = relTags.select(col("rel_id"),
      relIsMultipolygon(col("tags")).as("is_mp"))
    val tagged = members.join(typed, Seq("rel_id"), "left")
      .withColumn("is_mp", coalesce(col("is_mp"), lit(false)))
    val mp = assemble(tagged.filter(col("is_mp")).drop("is_mp"),
      wayGeoms, memberLimit).toDF()
      .withColumn("geometry_type",
        when(substring(col("wkb"), 1, 10) === "0106000000", "MultiPolygon")
          .otherwise("Polygon"))
    val coll = tagged.filter(!col("is_mp"))
      .select(col("rel_id"), col("way_id"))
      .join(wayGeoms.select(col("way_id"), col("lons"), col("lats")), Seq("way_id"))
      .groupBy("rel_id")
      .agg(
        count(lit(1)).as("n_ways"),
        sum(size(col("lons"))).cast("int").as("n_points"),
        array_sort(collect_list(struct(col("way_id"),
          call_function("wkb_line", col("lons"), col("lats")).as("m_wkb"))))
          .as("ms"))
      // WKB geometry collection: 0107 header + LE member count + each
      // member's full WKB (with its own header) verbatim
      .select(col("rel_id"), col("n_ways").cast("int").as("n_ways"),
        lit(0).as("n_rings"), lit(0).as("n_shells"), lit(0).as("n_holes"),
        lit(false).as("closed"), col("n_points"),
        lit(0.0).as("area_deg2"),
        concat(lit("0107000000"),
          format_string("%02x%02x%02x%02x",
            expr("n_ways % 256"), expr("(n_ways div 256) % 256"),
            expr("(n_ways div 65536) % 256"), expr("(n_ways div 16777216) % 256")),
          concat_ws("", expr("transform(ms, m -> m.m_wkb)"))).as("wkb"),
        lit(true).as("valid"), lit(0).as("n_repaired"),
        lit("GeometryCollection").as("geometry_type"))
    mp.unionByName(coll)
  }

  /** The `--multipolygon-member-limit` default — the reference's own CLI
    * default (`multipolygonMembersLimit = 500`, Contributions.java:102-107
    * / docs/faq.md).
    */
  val DefaultMemberLimit = 500

  /** One relation's rings as [[build]] leaves them: every ring with its
    * closed flag (open chains included), the classified shells, the
    * repair count (ways dropped + vertices removed) and the polygon or
    * multipolygon WKB. An over-limit relation has no rings, no shells and
    * an empty polygon WKB.
    */
  case class Rings(nWays: Int,
      rings: Seq[(ArrayBuffer[Double], ArrayBuffer[Double], Boolean)],
      shells: Seq[ShellWithHoles], nRepaired: Int, wkb: String)

  /** The per-relation ring builder — the one body both the batch assembly
    * ([[assemble]]) and the update path (`OsmUpdater.relationGeoms`) run:
    * member lines in way-id order → duplicate-way collapse
    * ([[dedupeWays]], splitWays) → [[stitch]] → spike removal per closed
    * ring ([[removeSpikes]], mergeSegments; rings that collapse entirely
    * disappear) → [[classify]] → polygon or multipolygon WKB. Area and
    * validity are left to [[measure]], which only the batch assembly needs.
    *
    * @param ways        (way_id, lons, lats) member-way lines; sorted by
    *                    way id here, the deterministic member order
    * @param memberLimit relations with more member ways than the limit
    *                    skip ring assembly (marker: 0 rings, empty polygon
    *                    WKB) — the cost guard against pathological
    *                    mega-relations; -1 assembles everything, 0
    *                    assembles nothing
    */
  def build(ways: Seq[(Long, Array[Double], Array[Double])],
      memberLimit: Int = DefaultMemberLimit): Rings = {
    val lines = ways.sortBy(_._1).map(w => (w._2, w._3))
    if (memberLimit >= 0 && lines.length > memberLimit)
      return Rings(lines.length, Seq.empty, Seq.empty, 0,
        graft.functions.Geo.wkbPolygonHex(Seq.empty))
    // repair pass 1: duplicate member ways collapse (splitWays)
    val (uniqueWays, droppedWays) = dedupeWays(lines)
    val stitched = stitch(uniqueWays)
    // repair pass 2: spike/backtrack removal per closed ring
    // (mergeSegments); rings that collapse entirely disappear
    var repairedVerts = 0
    val rings = stitched.flatMap {
      case (xs, ys, true) =>
        val (rx, ry, rem) = removeSpikes(xs.toSeq, ys.toSeq)
        repairedVerts += rem
        if (rx.isEmpty) None else Some((rx, ry, true))
      case open => Some(open)
    }
    val shells = classify(rings.filter(_._3).map(r => (r._1, r._2)))
    val polys = shells.map(s =>
      ((s.shell._1.toArray, s.shell._2.toArray)) +:
        s.holes.toSeq.map(h => (h._1.toArray, h._2.toArray)))
    // polygon WKB is built from CLOSED rings only, in every branch —
    // unclosed chains mean an invalid/partial relation (reference
    // skips them in polygon assembly too); `closed=false` flags it,
    // n_rings/n_points still count the open chains
    val wkb =
      if (polys.length > 1) graft.functions.Geo.wkbMultiPolygonHex(polys)
      else graft.functions.Geo.wkbPolygonHex(polys.headOption.getOrElse(Seq.empty))
    Rings(lines.length, rings, shells, droppedWays + repairedVerts, wkb)
  }

  /** The batch assembly's row for one relation: [[build]]'s rings plus
    * area and validity.
    */
  def measure(relId: Long, r: Rings): RelationRings = {
    // reference area semantics (GeometryTools.areaOf(Polygon/Multi)):
    // per shell abs(outer) − Σ abs(holes), clamped at 0, summed
    val area = r.shells.map { s =>
      math.max(0.0, ringArea(s.shell._1.toSeq, s.shell._2.toSeq) -
        s.holes.map(h => ringArea(h._1.toSeq, h._2.toSeq)).sum)
    }.sum
    val closed = r.rings.nonEmpty && r.rings.forall(_._3)
    val closedOnly = r.rings.filter(_._3)
    // ring-pair contact: single-point touch is OGC-legal (and the
    // reference's 706_mod fixture verdict); crossing or line overlap
    // is not (756_mod)
    val valid = closed &&
      !closedOnly.exists(c => ringSelfIntersects(c._1.toSeq, c._2.toSeq)) &&
      !closedOnly.combinations(2).exists { case Seq(a, b) =>
        ringsContact(a._1.toSeq, a._2.toSeq, b._1.toSeq, b._2.toSeq) == 2
      }
    RelationRings(relId, r.nWays, r.rings.length,
      r.shells.length, r.shells.map(_.holes.length).sum,
      closed, r.rings.map(_._1.length).sum, area, r.wkb,
      valid, n_repaired = r.nRepaired)
  }

  /** Batch assembly: member ⋈ way geometry, then [[build]] and
    * [[measure]] per relation.
    *
    * @param members     (rel_id, way_id) relation → member-way edges
    * @param wayGeoms    way geometries (way_id, lons, lats)
    * @param memberLimit see [[build]]
    */
  def assemble(members: DataFrame, wayGeoms: DataFrame,
      memberLimit: Int = DefaultMemberLimit): Dataset[RelationRings] = {
    val spark = members.sparkSession
    import spark.implicits._
    members.select(col("rel_id"), col("way_id"))
      .join(wayGeoms.select(col("way_id"), col("lons"), col("lats")), "way_id")
      .select(col("rel_id"), col("way_id"), col("lons"), col("lats"))
      .as[MemberLine]
      .groupByKey(_.rel_id)
      .mapGroups { (relId, it) =>
        measure(relId, build(it.map(w => (w.way_id, w.lons, w.lats)).toSeq, memberLimit))
      }
  }
}
