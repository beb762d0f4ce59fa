package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, QuaternaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Geometry kernels shared by the Catalyst expressions below and plain
  * Scala callers (tests). Pure static functions so whole-stage codegen can
  * call them directly — the generated code stays a single JVM call, no
  * boxing, no UDF serialization.
  */
object Geo {

  /** Hex WKB (little-endian) for a 2D point — the GeoParquet geometry
    * encoding the reference emits for nodes
    * (ohsome-contributions ContributionsAvroConverter.java:150 writes WKB).
    */
  def wkbPointHex(lon: Double, lat: Double): String = {
    val sb = new java.lang.StringBuilder(42)
    sb.append("0101000000") // byte order 01 (LE) + geometry type 1 (point) LE
    appendLeHex(sb, java.lang.Double.doubleToLongBits(lon))
    appendLeHex(sb, java.lang.Double.doubleToLongBits(lat))
    sb.toString
  }

  private def appendLeHex(sb: java.lang.StringBuilder, bits: Long): Unit = {
    val digits = "0123456789abcdef"
    var i = 0
    while (i < 8) {
      val b = ((bits >>> (8 * i)) & 0xffL).toInt
      sb.append(digits.charAt(b >> 4)).append(digits.charAt(b & 0xf))
      i += 1
    }
  }

  /** Hex WKB (little-endian) linestring from parallel coordinate arrays —
    * the way-geometry encoding (reference osm-geometry builds JTS
    * LineStrings from member nodes; the wire format is public WKB).
    */
  def wkbLineHex(lons: Array[Double], lats: Array[Double]): String = {
    val n = math.min(lons.length, lats.length)
    val sb = new java.lang.StringBuilder(18 + 32 * n)
    sb.append("0102000000") // LE + linestring
    var i = 0
    // numPoints as uint32 LE
    while (i < 4) {
      val b = (n >>> (8 * i)) & 0xff
      sb.append("0123456789abcdef".charAt(b >> 4))
      sb.append("0123456789abcdef".charAt(b & 0xf))
      i += 1
    }
    i = 0
    while (i < n) {
      appendLeHex(sb, java.lang.Double.doubleToLongBits(lons(i)))
      appendLeHex(sb, java.lang.Double.doubleToLongBits(lats(i)))
      i += 1
    }
    sb.toString
  }

  /** 8-character geohash (40 bits, base-32) of a lon/lat point — the
    * public geohash algorithm: alternate lon/lat bisection starting with
    * lon, `>= mid` takes the upper half. Every bisection midpoint is an
    * exact dyadic multiple of 360/2^i (odd mantissa 45), so the decisions
    * are exact double comparisons and the hash is bit-deterministic; for
    * integer-degree inputs the bit string equals the closed form
    * `floor((lon+180)·2^20/360)` / `floor((lat+90)·2^20/180)` interleaved,
    * which is what the SQL oracle replays in BIGINT.
    */
  def geohash8(lon: Double, lat: Double): UTF8String = {
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    var lonLo = -180.0; var lonHi = 180.0
    var latLo = -90.0; var latHi = 90.0
    val sb = new java.lang.StringBuilder(8)
    var ch = 0
    var i = 0
    while (i < 40) {
      if ((i & 1) == 0) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid }
        else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid }
        else { ch = ch << 1; latHi = mid }
      }
      i += 1
      if (i % 5 == 0) { sb.append(alphabet.charAt(ch)); ch = 0 }
    }
    UTF8String.fromString(sb.toString)
  }

  /** Hex WKB (little-endian) polygon of a changeset bounding box, or null
    * under the reference's extent guard: any missing (NaN) corner → no
    * geometry (osm-changesets OSMChangesets.java:75-87 getBBOXasWKT —
    * null/NaN → null; vertex order min_lon min_lat → max_lon min_lat →
    * max_lon max_lat → min_lon max_lat → close). Null INPUTS are handled
    * by the expression layer; NaN is data (the XML attr was absent), so
    * the guard lives in the kernel where codegen can reach it.
    */
  def wkbBoxHex(minLon: Double, minLat: Double, maxLon: Double,
      maxLat: Double): UTF8String = {
    if (java.lang.Double.isNaN(minLon) || java.lang.Double.isNaN(minLat) ||
      java.lang.Double.isNaN(maxLon) || java.lang.Double.isNaN(maxLat)) return null
    val sb = new java.lang.StringBuilder(178)
    sb.append("010300000001000000") // LE + polygon + 1 ring
    appendLeHexInt(sb, 5)
    appendLeHex(sb, java.lang.Double.doubleToLongBits(minLon))
    appendLeHex(sb, java.lang.Double.doubleToLongBits(minLat))
    appendLeHex(sb, java.lang.Double.doubleToLongBits(maxLon))
    appendLeHex(sb, java.lang.Double.doubleToLongBits(minLat))
    appendLeHex(sb, java.lang.Double.doubleToLongBits(maxLon))
    appendLeHex(sb, java.lang.Double.doubleToLongBits(maxLat))
    appendLeHex(sb, java.lang.Double.doubleToLongBits(minLon))
    appendLeHex(sb, java.lang.Double.doubleToLongBits(maxLat))
    appendLeHex(sb, java.lang.Double.doubleToLongBits(minLon))
    appendLeHex(sb, java.lang.Double.doubleToLongBits(minLat))
    UTF8String.fromString(sb.toString)
  }

  /** Hex WKB (little-endian) polygon from ring coordinate arrays. */
  def wkbPolygonHex(rings: Seq[(Array[Double], Array[Double])]): String = {
    val sb = new java.lang.StringBuilder(18 + rings.map(32 * _._1.length + 8).sum)
    sb.append("0103000000") // LE + polygon
    appendLeHexInt(sb, rings.length)
    rings.foreach { case (lons, lats) =>
      val n = math.min(lons.length, lats.length)
      appendLeHexInt(sb, n)
      var i = 0
      while (i < n) {
        appendLeHex(sb, java.lang.Double.doubleToLongBits(lons(i)))
        appendLeHex(sb, java.lang.Double.doubleToLongBits(lats(i)))
        i += 1
      }
    }
    sb.toString
  }

  /** Single-ring polygon hex WKB — the Java-callable form codegen uses
    * (`wkb_poly`).
    */
  def wkbPolygonRingHex(lons: Array[Double], lats: Array[Double]): String =
    wkbPolygonHex(Seq((lons, lats)))

  /** Hex WKB (little-endian) multipolygon: each element polygon carries its
    * own byte-order + type header per the WKB spec.
    */
  def wkbMultiPolygonHex(polys: Seq[Seq[(Array[Double], Array[Double])]]): String = {
    val sb = new java.lang.StringBuilder
    sb.append("0106000000") // LE + multipolygon
    appendLeHexInt(sb, polys.length)
    polys.foreach(rings => sb.append(wkbPolygonHex(rings)))
    sb.toString
  }

  private def appendLeHexInt(sb: java.lang.StringBuilder, v: Int): Unit = {
    val digits = "0123456789abcdef"
    var i = 0
    while (i < 4) {
      val b = (v >>> (8 * i)) & 0xff
      sb.append(digits.charAt(b >> 4)).append(digits.charAt(b & 0xf))
      i += 1
    }
  }

  /** XZ-ordering space-filling curve (Böhm, Klump & Kriegel 1999) of a
    * lon/lat bbox at resolution `g` — the spatial sort key of the output
    * parquet (reference util/XZCode.java:14-95, g=16 per
    * ContributionsAvroConverter.java:24). Re-derived from the paper: the
    * enlarged-element length is l1 = floor(log_0.5(max extent)) bumped by
    * one when the doubled cell at l1+1 still covers the box, and the code
    * accumulates quadrant * |subtree| + 1 along the curve descent.
    */
  def xzLevel(xmin: Double, ymin: Double, xmax: Double, ymax: Double, g: Int): Int = {
    val x0 = (180.0 + xmin) / 360.0
    val y0 = (90.0 + ymin) / 360.0
    val x1 = (180.0 + xmax) / 360.0
    val y1 = (90.0 + ymax) / 360.0
    val ext = math.max(x1 - x0, y1 - y0)
    val l1 = math.floor(math.log(ext) / math.log(0.5)).toInt
    if (l1 >= g) g
    else {
      val w2 = math.pow(0.5, l1 + 1)
      def fits(min: Double, max: Double) = max <= math.floor(min / w2) * w2 + 2 * w2
      if (fits(x0, x1) && fits(y0, y1)) l1 + 1 else l1
    }
  }

  // WGS84-ish constants shared by the geodesic kernels (public values; the
  // reference uses the same set, ohsome-contributions util/GeometryTools
  // .java:11-17)
  val EarthRadiusMean = 6371000.0
  val EarthRadiusEquator = 6378137.0
  val InverseFlattening = 298.257223563
  val FUnd: Double = 1.0 - 1.0 / InverseFlattening
  val SphereFact: Double = math.pow(FUnd, 1.5)

  /** Douglas–Peucker tolerance in integer centidegrees and the bounded
    * recursion depth — BOTH are part of the operator contract: a
    * depth-capped DP is deterministic whether or not the cap binds
    * (each level is a pure function of the previous one), which is what
    * lets a SQL engine replay the recursion as a fixed chain of
    * per-level argmax CTEs instead of an unbounded worklist.
    */
  val DpEps = 4000L
  val DpDepth = 16

  /** Depth-capped Douglas–Peucker over an integer polyline — all
    * arithmetic exact int64 (perpendicular distance compared by
    * cross² > ε²·|AB|², with the cross product ≤ 1.3e9 so its square
    * fits int64; within one segment |AB|² is constant across candidate
    * points, so the interior argmax orders by the raw numerator — no
    * ratio, no float). Degenerate zero-length segments fall back to
    * point distance. Split point = max distance, ties → smallest index.
    * Returns [n_kept, Σ kept idx, Σ kept x, Σ kept y] — the checksum
    * face the cross-engine compare hashes.
    */
  def dpKeep(xs: Array[Long], ys: Array[Long]): Array[Long] = {
    val n = math.min(xs.length, ys.length)
    if (n == 0) return Array(0L, 0L, 0L, 0L)
    val kept = new java.util.BitSet(n)
    kept.set(0); kept.set(n - 1)
    var level: List[(Int, Int)] = List((0, n - 1))
    var d = 0
    while (d < DpDepth && level.nonEmpty) {
      var nxt: List[(Int, Int)] = Nil
      for ((i, j) <- level if j - i >= 2) {
        val ax = xs(i); val ay = ys(i); val bx = xs(j); val by = ys(j)
        val den = (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
        var bk = -1; var bn = -1L
        var k = i + 1
        while (k < j) {
          val px = xs(k); val py = ys(k)
          val num =
            if (den == 0L) (px - ax) * (px - ax) + (py - ay) * (py - ay)
            else { val cr = (bx - ax) * (ay - py) - (ax - px) * (by - ay); cr * cr }
          if (num > bn) { bk = k; bn = num }
          k += 1
        }
        val dden = if (den == 0L) 1L else den
        if (bn > DpEps * DpEps * dden) {
          kept.set(bk)
          nxt = (i, bk) :: (bk, j) :: nxt
        }
      }
      level = nxt
      d += 1
    }
    var nk = 0L; var si = 0L; var sx = 0L; var sy = 0L
    var i = kept.nextSetBit(0)
    while (i >= 0) {
      nk += 1; si += i; sx += xs(i); sy += ys(i)
      i = kept.nextSetBit(i + 1)
    }
    Array(nk, si, sx, sy)
  }

  /** Flattening-corrected geodesic polyline length in fixed-point
    * millimeters (reference formula: GeometryTools.java:43-61 — spherical
    * latitude via atan(f^1.5·tan φ), equirectangular step with mid-latitude
    * cosine, mean-radius scaling). Per-step rounding to integer mm makes
    * the Long sum order-independent and engine-portable: libm differences
    * (~1e-9 m) sit far inside the 0.5 mm tie distance.
    */
  def geodesicLengthMm(lons: Array[Double], lats: Array[Double]): Long = {
    val n = math.min(lons.length, lats.length)
    if (n < 2) return 0L
    var total = 0L
    var prevLon = math.toRadians(lons(0))
    var prevLat = math.atan(SphereFact * math.tan(math.toRadians(lats(0))))
    var i = 1
    while (i < n) {
      val thisLon = math.toRadians(lons(i))
      val thisLat = math.atan(SphereFact * math.tan(math.toRadians(lats(i))))
      val dLon = (thisLon - prevLon) * math.cos((thisLat + prevLat) / 2)
      val dLat = thisLat - prevLat
      val step = math.sqrt(dLon * dLon + dLat * dLat) * EarthRadiusMean
      total += math.round(step * 1000.0)
      prevLon = thisLon
      prevLat = thisLat
      i += 1
    }
    total
  }

  /** Geodesic ring area in whole m² (absolute value), treating the point
    * sequence as a closed ring. Reference formula: GeometryTools.java
    * :203-240 (Chamberlain & Duquette, JPL 07-03: Σ Δλ(p3,p1)·sin φ2, with
    * the WGS84 latitude converted to its spherical value and a
    * mid-latitude flattening correction on R²). Engine-portability: sin φ
    * and cos(midLat) are snapped to 9 decimals and each term accumulates
    * as fixed-point 1e-9 Longs, so the only doubles that cross the
    * Spark↔DuckDB boundary are bit-identical products of identical inputs.
    */
  def geodesicAreaM2(lons: Array[Double], lats: Array[Double]): Long = {
    val n = math.min(lons.length, lats.length)
    if (n < 3) return 0L
    var sum9 = 0L
    var ymin = Double.MaxValue
    var ymax = -Double.MaxValue
    var i = 0
    while (i < n) {
      val prev = if (i == 0) n - 1 else i - 1
      val next = if (i == n - 1) 0 else i + 1
      val x = FUnd * math.tan(math.toRadians(lats(i)))
      val sinLat9 = math.round((x / math.sqrt(x * x + 1.0)) * 1e9) / 1e9
      val term = math.toRadians(lons(next) - lons(prev)) * sinLat9
      sum9 += math.round(term * 1e9)
      if (lats(i) < ymin) ymin = lats(i)
      if (lats(i) > ymax) ymax = lats(i)
      i += 1
    }
    val midLat = (ymax + ymin) / 2
    val cosM9 = math.round(math.cos(math.toRadians(midLat)) * 1e9) / 1e9
    val factor = 0.5 * EarthRadiusEquator * EarthRadiusEquator *
      (1.0 - 1.0 / InverseFlattening * cosM9 * cosM9)
    math.round(math.abs((sum9 / 1e9) * factor))
  }

  /** Double-coordinate ray-cast (same crossing rule as [[pointInPoly]]) —
    * used by relation ring classification where coordinates are degrees.
    */
  def pointInRingD(x: Double, y: Double, xs: Seq[Double], ys: Seq[Double]): Boolean = {
    val n = math.min(xs.length, ys.length)
    var inside = false
    var i = 0
    while (i < n) {
      val k = if (i + 1 == n) 0 else i + 1
      val y1 = ys(i); val y2 = ys(k)
      if ((y1 > y) != (y2 > y)) {
        val x1 = xs(i); val x2 = xs(k)
        val d = (x2 - x1) * (y - y1) - (x - x1) * (y2 - y1)
        if (if (y2 > y1) d > 0 else d < 0) inside = !inside
      }
      i += 1
    }
    inside
  }

  /** Integer ray-cast point-in-polygon: toggles on edges (v_i, v_{i+1})
    * that cross the horizontal through y, testing the point strictly left
    * of upward-crossing edges (and symmetric for downward). All-integer
    * arithmetic — no epsilon, exactly replayable in SQL. The exact-refine
    * kernel of the filter/refine spatial join (reference
    * ohsome-contributions spatialjoin/SpatialGridJoiner.java:50-63 uses
    * JTS prepared-geometry intersects; the point/polygon case is this
    * classic crossing test).
    */
  def pointInPoly(x: Long, y: Long, xs: Array[Long], ys: Array[Long]): Boolean = {
    val n = math.min(xs.length, ys.length)
    var inside = false
    var i = 0
    while (i < n) {
      val k = if (i + 1 == n) 0 else i + 1
      val y1 = ys(i); val y2 = ys(k)
      if ((y1 > y) != (y2 > y)) {
        val x1 = xs(i); val x2 = xs(k)
        val d = (x2 - x1) * (y - y1) - (x - x1) * (y2 - y1)
        if (if (y2 > y1) d > 0 else d < 0) inside = !inside
      }
      i += 1
    }
    inside
  }

  /** Even-odd (alternate-filling) containment over a MULTI-RING geometry —
    * a POLYGON with holes or a MULTIPOLYGON flattened to its rings. `offs`
    * holds each ring's start index plus a final sentinel (= total length);
    * rings close implicitly (no duplicated end vertex needed — a
    * duplicated one is harmless, its zero-height edge never toggles).
    * Crossing an outer shell toggles in, crossing a hole ring toggles back
    * out: the OGC even-odd rule, valid for arbitrary concave shells
    * (reference join semantics: SpatialGridJoiner.java:49-63 via JTS
    * prepared-geometry `intersects`). Same crossing rule as
    * [[pointInPoly]]; coordinates whose values are integers (the oracle
    * fixture) make every product exact in double, so the SQL replay is
    * bit-identical.
    */
  def pointInRings(x: Double, y: Double, xs: Array[Double], ys: Array[Double],
      offs: Array[Int]): Boolean = {
    var inside = false
    var r = 0
    while (r < offs.length - 1) {
      val lo = offs(r); val hi = offs(r + 1)
      var i = lo
      while (i < hi) {
        val k = if (i + 1 == hi) lo else i + 1
        val y1 = ys(i); val y2 = ys(k)
        if ((y1 > y) != (y2 > y)) {
          val x1 = xs(i); val x2 = xs(k)
          val d = (x2 - x1) * (y - y1) - (x - x1) * (y2 - y1)
          if (if (y2 > y1) d > 0 else d < 0) inside = !inside
        }
        i += 1
      }
      r += 1
    }
    inside
  }

  /** XZ enlarged-element length for INTEGER-degree boxes, log-free: the
    * normalized extent is e/360 for integer e, so
    * l1 = floor(log_0.5(e/360)) = max l with e·2^l ≤ 360 — computed in
    * exact integer arithmetic. Integer extents 45/90/180 normalize to
    * EXACT powers of 0.5 where the generic kernel's
    * floor(log(ext)/log(0.5)) sits on a libm-dependent floor boundary that
    * Spark and DuckDB may round differently; this variant has no such
    * hazard (the +1 bump check stays in power-of-two doubles, which are
    * IEEE-exact on both engines).
    */
  def xzLevelInt(xmin: Long, ymin: Long, xmax: Long, ymax: Long, g: Int): Int = {
    val e = math.max(xmax - xmin, ymax - ymin)
    if (e <= 0) return g
    var l1 = 0
    while (l1 < g && (e << (l1 + 1)) <= 360L) l1 += 1
    if (l1 >= g) g
    else {
      val x0 = (180.0 + xmin) / 360.0
      val y0 = (90.0 + ymin) / 360.0
      val x1 = (180.0 + xmax) / 360.0
      val y1 = (90.0 + ymax) / 360.0
      val w2 = math.pow(0.5, l1 + 1)
      def fits(min: Double, max: Double) = max <= math.floor(min / w2) * w2 + 2 * w2
      if (fits(x0, x1) && fits(y0, y1)) l1 + 1 else l1
    }
  }

  /** XZ code of an integer-degree box: exact level ([[xzLevelInt]]) +
    * the standard midpoint descent (exact power-of-two double halving).
    */
  def xzCodeInt(xmin: Long, ymin: Long, xmax: Long, ymax: Long, g: Int): Long =
    xzDescend((180.0 + xmin) / 360.0, (90.0 + ymin) / 360.0,
      xzLevelInt(xmin, ymin, xmax, ymax, g), g)

  private def xzDescend(x: Double, y: Double, length: Int, g: Int): Long = {
    var (xlo, xhi, ylo, yhi) = (0.0, 1.0, 0.0, 1.0)
    var code = 0L
    var i = 0
    while (i < length) {
      val nElem = ((1L << (2 * (g - i))) - 1L) / 3L
      var q = 0L
      val xc = xlo + (xhi - xlo) / 2
      if (x >= xc) { q += 1; xlo = xc } else xhi = xc
      val yc = ylo + (yhi - ylo) / 2
      if (y >= yc) { q += 2; ylo = yc } else yhi = yc
      code += q * nElem + 1
      i += 1
    }
    code
  }

  def xzCode(xmin: Double, ymin: Double, xmax: Double, ymax: Double, g: Int): Long =
    xzDescend((180.0 + xmin) / 360.0, (90.0 + ymin) / 360.0,
      xzLevel(xmin, ymin, xmax, ymax, g), g)

  // ---- ring validity primitives (GeometryBuilder.java:52-110 triggers) --

  private def orient(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double): Double =
    (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

  private def onSegment(ax: Double, ay: Double, bx: Double, by: Double,
      px: Double, py: Double): Boolean =
    math.min(ax, bx) <= px && px <= math.max(ax, bx) &&
      math.min(ay, by) <= py && py <= math.max(ay, by)

  /** Whether segments (a,b) and (c,d) share any point — proper crossing,
    * endpoint touch, or collinear overlap (standard orientation test).
    * Exact for integer-valued doubles (products stay ≤ 2⁵³).
    */
  def segmentsIntersect(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    if (((o1 > 0) != (o2 > 0)) && ((o3 > 0) != (o4 > 0)) &&
      o1 != 0 && o2 != 0 && o3 != 0 && o4 != 0) true
    else (o1 == 0 && onSegment(ax, ay, bx, by, cx, cy)) ||
      (o2 == 0 && onSegment(ax, ay, bx, by, dx, dy)) ||
      (o3 == 0 && onSegment(cx, cy, dx, dy, ax, ay)) ||
      (o4 == 0 && onSegment(cx, cy, dx, dy, bx, by))
  }

  /** Self-intersection of an OPEN ring (no closing duplicate; edge i runs
    * vertex i → (i+1) mod n): true for degenerate rings (n < 3), repeated
    * vertices, or any two non-adjacent edges sharing a point. O(n²)
    * small-N per-entity work, same cost class as the ray-cast kernels.
    */
  def ringSelfIntersectsOpen(xs: Array[Double], ys: Array[Double]): Boolean = {
    val n = xs.length
    if (n < 3) return true
    val seen = scala.collection.mutable.HashSet[(Double, Double)]()
    var v = 0
    while (v < n) {
      if (!seen.add((xs(v), ys(v)))) return true
      v += 1
    }
    ringCrossPairs(xs, ys) > 0
  }

  /** Number of non-adjacent edge pairs of the OPEN ring that share a point
    * (0 for n < 3) — the quantitative face of [[ringSelfIntersectsOpen]].
    */
  def ringCrossPairs(xs: Array[Double], ys: Array[Double]): Int = {
    val n = xs.length
    if (n < 3) return 0
    var count = 0
    var i = 0
    while (i < n) {
      var j = i + 2
      while (j < n) {
        if (!(i == 0 && j == n - 1)) {
          val i2 = (i + 1) % n
          val j2 = (j + 1) % n
          if (segmentsIntersect(xs(i), ys(i), xs(i2), ys(i2),
            xs(j), ys(j), xs(j2), ys(j2))) count += 1
        }
        j += 1
      }
      i += 1
    }
    count
  }
}

/** `wkb_point(lon, lat)` → hex WKB string; codegen emits a direct static
  * call so the expression stays inside WholeStageCodegen.
  */
case class WkbPoint(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "wkb_point"

  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    UTF8String.fromString(
      Geo.wkbPointHex(lon.asInstanceOf[Double], lat.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Geo.wkbPointHex($lon, $lat))")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WkbPoint =
    copy(left = newLeft, right = newRight)
}

/** `wkb_line(lons, lats)` → hex WKB linestring from two double arrays. */
case class WkbLine(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "wkb_line"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    UTF8String.fromString(Geo.wkbLineHex(x.toDoubleArray(), y.toDoubleArray()))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Geo.wkbLineHex($a.toDoubleArray(), $b.toDoubleArray()))")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WkbLine =
    copy(left = newLeft, right = newRight)
}

/** `wkb_poly(lons, lats)` → hex WKB single-ring polygon from two double
  * arrays (the closed-way area encoding — ContributionGeometry
  * .wayGeometry's `createPolygon` branch).
  */
case class WkbPoly(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "wkb_poly"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    UTF8String.fromString(
      Geo.wkbPolygonRingHex(x.toDoubleArray(), y.toDoubleArray()))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Geo.wkbPolygonRingHex($a.toDoubleArray(), $b.toDoubleArray()))")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WkbPoly =
    copy(left = newLeft, right = newRight)
}

/** `xz_code(xmin, ymin, xmax, ymax)` → curve position (g=16). */
case class XZCodeExpr(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "xz_code"

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Geo.xzCode(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double], 16)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.Geo.xzCode($a, $b, $c, $d, 16)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): XZCodeExpr =
    copy(first = a, second = b, third = c, fourth = d)
}

/** `geohash8(lon, lat)` → 8-character base-32 geohash. */
case class GeoHash8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "geohash8"

  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    Geo.geohash8(lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) => s"graft.functions.Geo.geohash8($lon, $lat)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GeoHash8 =
    copy(left = newLeft, right = newRight)
}

/** `wkb_box(min_lon, min_lat, max_lon, max_lat)` → hex WKB polygon of the
  * bbox, null when any corner is null OR NaN (the reference's changeset
  * extent guard, OSMChangesets.java:75-87).
  */
case class WkbBox(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "wkb_box"

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Geo.wkbBoxHex(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"""${ev.value} = graft.functions.Geo.wkbBoxHex($a, $b, $c, $d);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): WkbBox =
    copy(first = a, second = b, third = c, fourth = d)
}

/** `ring_self_intersects(xs, ys)` → whether the OPEN ring has a repeated
  * vertex or two non-adjacent edges sharing a point (true for n < 3).
  */
case class RingSelfIntersects(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "ring_self_intersects"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Geo.ringSelfIntersectsOpen(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Geo.ringSelfIntersectsOpen($a.toDoubleArray(), $b.toDoubleArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RingSelfIntersects =
    copy(left = newLeft, right = newRight)
}

/** `ring_cross_pairs(xs, ys)` → count of non-adjacent edge pairs of the
  * OPEN ring that share a point (0 for n < 3).
  */
case class RingCrossPairs(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ring_cross_pairs"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Geo.ringCrossPairs(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Geo.ringCrossPairs($a.toDoubleArray(), $b.toDoubleArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RingCrossPairs =
    copy(left = newLeft, right = newRight)
}

/** `xz_code_i(xmin, ymin, xmax, ymax)` → curve position of an
  * INTEGER-degree box (g=16), log-free exact level selection
  * (Geo.xzCodeInt) — safe where extents normalize to exact powers of 0.5.
  */
case class XZCodeIntExpr(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "xz_code_i"

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Geo.xzCodeInt(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long], d.asInstanceOf[Long], 16)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.Geo.xzCodeInt($a, $b, $c, $d, 16)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): XZCodeIntExpr =
    copy(first = a, second = b, third = c, fourth = d)
}

/** `xz_level(xmin, ymin, xmax, ymax)` → enlarged-element length (g=16). */
case class XZLevelExpr(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "xz_level"

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Geo.xzLevel(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double], 16)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.Geo.xzLevel($a, $b, $c, $d, 16)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): XZLevelExpr =
    copy(first = a, second = b, third = c, fourth = d)
}

/** `geodesic_length_mm(lons, lats)` → fixed-point mm polyline length. */
case class GeodesicLengthMm(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "geodesic_length_mm"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Geo.geodesicLengthMm(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Geo.geodesicLengthMm($a.toDoubleArray(), $b.toDoubleArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GeodesicLengthMm =
    copy(left = newLeft, right = newRight)
}

/** `dp_keep(xs, ys)` over two long-array columns → the 4-long
  * Douglas–Peucker summary [n_kept, idx_sum, x_sum, y_sum]
  * ([[Geo.dpKeep]]): one codegen call runs the whole depth-capped
  * simplification per row — the per-entity recursion is imperative by
  * nature (a worklist over split segments), exactly the "genuine
  * per-partition imperative logic" a kernel exists for.
  */
case class DpKeep(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dp_keep"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Geo.dpKeep(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray(),
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Geo.dpKeep($a.toLongArray(), $b.toLongArray()))")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DpKeep =
    copy(left = newLeft, right = newRight)
}

/** `geodesic_area_m2(lons, lats)` → whole-m² ring area. */
case class GeodesicAreaM2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "geodesic_area_m2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Geo.geodesicAreaM2(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Geo.geodesicAreaM2($a.toDoubleArray(), $b.toDoubleArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GeodesicAreaM2 =
    copy(left = newLeft, right = newRight)
}

/** `point_in_poly(x, y, xs, ys)` → integer ray-cast containment test. */
case class PointInPoly(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "point_in_poly"

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Geo.pointInPoly(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray(),
      d.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.Geo.pointInPoly($a, $b, $c.toLongArray(), $d.toLongArray())")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): PointInPoly =
    copy(first = a, second = b, third = c, fourth = d)
}

/** `point_in_rings(x, y, xs, ys, offs)` → even-odd containment over a
  * multi-ring geometry (polygon with holes / multipolygon); `offs` = ring
  * start indices + total-length sentinel.
  */
case class PointInRings(first: Expression, second: Expression,
    third: Expression, fourth: Expression, fifth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "point_in_rings"
  override def children: Seq[Expression] = Seq(first, second, third, fourth, fifth)

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any, e: Any): Any =
    Geo.pointInRings(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
      d.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
      e.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d, e) =>
      s"graft.functions.Geo.pointInRings($a, $b, $c.toDoubleArray(), " +
        s"$d.toDoubleArray(), $e.toIntArray())")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PointInRings =
    copy(first = newChildren(0), second = newChildren(1), third = newChildren(2),
      fourth = newChildren(3), fifth = newChildren(4))
}

/** Registers the custom expressions on a live session (tests/Verify) —
  * `GraftExtensions` does the same through `SparkSessionExtensions` for
  * spark-submit (`spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object GeoFunctions {
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "wkb_point" -> (es => WkbPoint(es(0), es(1))),
    "wkb_line" -> (es => WkbLine(es(0), es(1))),
    "wkb_poly" -> (es => WkbPoly(es(0), es(1))),
    "wkb_box" -> (es => WkbBox(es(0), es(1), es(2), es(3))),
    "geohash8" -> (es => GeoHash8(es(0), es(1))),
    "xz_code" -> (es => XZCodeExpr(es(0), es(1), es(2), es(3))),
    "xz_code_i" -> (es => XZCodeIntExpr(es(0), es(1), es(2), es(3))),
    "xz_level" -> (es => XZLevelExpr(es(0), es(1), es(2), es(3))),
    "point_in_poly" -> (es => PointInPoly(es(0), es(1), es(2), es(3))),
    "point_in_rings" -> (es => PointInRings(es(0), es(1), es(2), es(3), es(4))),
    "ring_self_intersects" -> (es => RingSelfIntersects(es(0), es(1))),
    "ring_cross_pairs" -> (es => RingCrossPairs(es(0), es(1))),
    "geodesic_length_mm" -> (es => GeodesicLengthMm(es(0), es(1))),
    "dp_keep" -> (es => DpKeep(es(0), es(1))),
    "geodesic_area_m2" -> (es => GeodesicAreaM2(es(0), es(1))),
    "simhash64" -> (es => SimHash64(es(0))),
    "dot9" -> (es => Dot9(es(0), es(1))),
    "lev_band" -> (es => LevBand(es(0), es(1))),
    "isect_sorted" -> (es => IsectSorted(es(0), es(1))),
    "mom9" -> (es => Mom9(es(0))),
    "minhash8" -> (es => Minhash8(es(0))),
    "rollhash8" -> (es => RollHash8(es(0))),
    "rollfps16" -> (es => RollFps16(es(0))),
    "cdccuts" -> (es => CdcCuts(es(0))),
    "winnow8" -> (es => Winnow8(es(0))),
    "ahash16" -> (es => AHash16(es(0))),
    "bhist16" -> (es => BHist16(es(0))),
    "ahash64" -> (es => AHash64(es(0))),
    "wgrams3" -> (es => WGrams3(es(0))),
    "repstats" -> (es => RepStats(es(0))),
    "ttrstats" -> (es => TtrStats(es(0))),
    "jgrams3" -> (es => JGrams3(es(0))),
    "langscores5" -> (es => LangScores5(es(0))),
    "bpepairs" -> (es => BpePairs(es(0))),
    "md5head48" -> (es => Md5Head48(es(0))),
    "deconstats" -> (es => DeconStats(es(0), es(1))),
    // builder runs on the DRIVER during analysis: the id literal resolves
    // to its broadcast handle here, so the plan carries the handle, not
    // the artifact bytes (see ArtifactBroadcasts)
    "decon_artifact" -> (es => DeconArtifactRef(ArtifactBroadcasts.get(
      es(0).eval(null).asInstanceOf[Long]))),
    "bloom_might_contain" -> (es => BloomMightContain(es(0), es(1))))

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** Session extension registering graft expressions cluster-wide. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GeoFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GeoExprs", name),
        builder))
    }
    // literal-width range joins rewrite to binned equi-joins instead of
    // nested loops (see graft.plans.RangeBinJoin)
    ext.injectOptimizerRule(_ => graft.plans.RangeBinJoin)
  }
}
