package graft.expr

import java.nio.ByteOrder

import org.apache.spark.unsafe.Platform

import graft.core._
import graft.index.CellGrid

/** Runtime kernels invoked from generated code (Scala top-level object =>
  * static forwarders callable from Janino-generated Java).
  *
  * The point predicates (`containsPoint`, `intersectsPoint`: the cell-join
  * post-filter) read 2D Polygon and MultiPolygon WKB in place, so a join
  * candidate costs one walk over its polygon's bytes and no allocation.
  * Join rows cannot reuse a decoded polygon: `UnsafeRow.getBinary` hands
  * each candidate a fresh copy of the bytes, so an identity check never
  * hits and a content check costs as much as the walk.
  *
  * Every other expression decodes through a small per-thread slot cache
  * (the reference's prepared-geometry reuse,
  * `gdal/ogr/ogrsf_frmts/generic/ogrlayer.cpp:1296` InstallFilter keeps a
  * prepared filter geometry for the whole scan). It
  * serves the geometry-geometry predicates, measures and accessors, and
  * the point predicates' other shapes (Z/M, points, lines, collections).
  */
object GeoRt {

  private final val CacheSlots = 64

  private final class Slot {
    var key: Array[Byte] = _
    var value: Geom = _
  }

  private val cache = new ThreadLocal[Array[Slot]] {
    override def initialValue(): Array[Slot] = Array.fill(CacheSlots)(new Slot)
  }

  def decode(wkb: Array[Byte]): Geom = {
    val slots = cache.get()
    // slot by cheap content hash
    var h = wkb.length
    if (wkb.length >= 8) {
      h = h * 31 + wkb(5); h = h * 31 + wkb(wkb.length - 3)
      h = h * 31 + wkb(wkb.length / 2)
    }
    val slot = slots(h & (CacheSlots - 1))
    val k = slot.key
    if (k != null && ((k eq wkb) || java.util.Arrays.equals(k, wkb))) return slot.value
    val g = Geom.fromWkb(wkb)
    slot.key = wkb
    slot.value = g
    g
  }

  // ---- predicates (hot path: cell-join post-filter) ----

  /** [[GeomOps.containsPoint]] of the decoded `wkb`, bit for bit. */
  def containsPoint(wkb: Array[Byte], x: Double, y: Double): Boolean =
    if (polygonal(wkb)) polygonalHit(wkb, x, y, boundary = false)
    else GeomOps.containsPoint(decode(wkb), x, y)

  /** [[GeomOps.intersectsPoint]] of the decoded `wkb`, bit for bit. */
  def intersectsPoint(wkb: Array[Byte], x: Double, y: Double): Boolean =
    if (polygonal(wkb)) polygonalHit(wkb, x, y, boundary = true)
    else GeomOps.intersectsPoint(decode(wkb), x, y)

  def intersects(a: Array[Byte], b: Array[Byte]): Boolean =
    GeomOps.intersects(decode(a), decode(b))

  def contains(a: Array[Byte], b: Array[Byte]): Boolean =
    GeomOps.contains(decode(a), decode(b))

  def dwithin(a: Array[Byte], b: Array[Byte], d: Double): Boolean =
    GeomOps.distance(decode(a), decode(b)) <= d

  // ---- in-place WKB point-in-polygon ----
  //
  // The layout of a 2D polygon body: int32 ring count, then per ring an
  // int32 vertex count and that many (x, y) float64 pairs, all in the byte
  // order of the geometry's header byte (0 = big endian, else little, as in
  // Geom.fromWkb). A MultiPolygon is an int32 part count followed by whole
  // Polygon WKBs.

  private final val NativeLittle = ByteOrder.nativeOrder() == ByteOrder.LITTLE_ENDIAN

  @inline private def int32(w: Array[Byte], off: Int, little: Boolean): Int = {
    val v = Platform.getInt(w, Platform.BYTE_ARRAY_OFFSET + off)
    if (little == NativeLittle) v else Integer.reverseBytes(v)
  }

  @inline private def float64(w: Array[Byte], off: Int, little: Boolean): Double = {
    val v = Platform.getLong(w, Platform.BYTE_ARRAY_OFFSET + off)
    java.lang.Double.longBitsToDouble(
      if (little == NativeLittle) v else java.lang.Long.reverseBytes(v))
  }

  /** Offset just past the polygon body at `off`, or -1 when its counts run
    * past the end of `w`.
    */
  private def polygonEnd(w: Array[Byte], off: Int, little: Boolean): Int = {
    if (w.length - off < 4) return -1
    val nr = int32(w, off, little)
    if (nr < 0) return -1
    var pos = off + 4
    var r = 0
    while (r < nr) {
      if (w.length - pos < 4) return -1
      val n = int32(w, pos, little)
      pos += 4
      if (n < 0 || (w.length - pos) / 16 < n) return -1
      pos += 16 * n
      r += 1
    }
    pos
  }

  /** Is `w` a 2D Polygon, or a 2D MultiPolygon whose parts share its byte
    * order, with every count inside its bytes? Only these are read in place
    * (the bounds checked here make the unchecked reads safe); anything else,
    * malformed bytes included, takes the decoding path and its errors.
    */
  private def polygonal(w: Array[Byte]): Boolean = {
    if (w.length < 5) return false
    val little = w(0) != 0
    int32(w, 1, little) match {
      case 3 => polygonEnd(w, 5, little) >= 0
      case 6 =>
        if (w.length < 9) return false
        val np = int32(w, 5, little)
        var pos = 9
        var k = 0
        while (k < np) {
          if (w.length - pos < 5 || (w(pos) != 0) != little ||
              int32(w, pos + 1, little) != 3) return false
          pos = polygonEnd(w, pos + 5, little)
          if (pos < 0) return false
          k += 1
        }
        np >= 0
      case _ => false
    }
  }

  /** Point test over a WKB that [[polygonal]] accepted: a MultiPolygon
    * matches when any part does, as GeomOps' `exists` over the parts.
    */
  private def polygonalHit(w: Array[Byte], px: Double, py: Double,
                           boundary: Boolean): Boolean = {
    val little = w(0) != 0
    if (int32(w, 1, little) == 3) return polygonHit(w, 5, little, px, py, boundary)
    val np = int32(w, 5, little)
    var pos = 9
    var k = 0
    while (k < np) {
      if (polygonHit(w, pos + 5, little, px, py, boundary)) return true
      pos = polygonEnd(w, pos + 5, little)
      k += 1
    }
    false
  }

  /** One polygon body at `off`: [[GeomOps.polygonContainsPoint]] or, with
    * `boundary`, the polygon case of [[GeomOps.intersectsPoint]]. Envelope
    * over all rings (inclusive), then the exterior ray cast, holes exclude;
    * a ring of fewer than 4 points is never inside nor on the boundary.
    */
  private def polygonHit(w: Array[Byte], off: Int, little: Boolean,
                         px: Double, py: Double, boundary: Boolean): Boolean = {
    val nr = int32(w, off, little)
    var minX = Double.MaxValue; var minY = Double.MaxValue
    var maxX = -Double.MaxValue; var maxY = -Double.MaxValue
    var pos = off + 4
    var r = 0
    while (r < nr) {
      val end = pos + 4 + 16 * int32(w, pos, little)
      pos += 4
      while (pos < end) {
        val x = float64(w, pos, little); val y = float64(w, pos + 8, little)
        if (x < minX) minX = x; if (x > maxX) maxX = x
        if (y < minY) minY = y; if (y > maxY) maxY = y
        pos += 16
      }
      r += 1
    }
    if (!(px >= minX && px <= maxX && py >= minY && py <= maxY)) return false
    var inside = true
    pos = off + 4
    r = 0
    while (r < nr) {
      val n = int32(w, pos, little)
      pos += 4
      if (n >= 4) {
        if (boundary && ringTouches(w, pos, n, little, px, py)) return true
        if (inside) {
          val in = ringCrossesOdd(w, pos, n, little, px, py)
          if (r == 0) inside = in else if (in) inside = false
        }
      } else if (r == 0) inside = false
      if (!inside && !boundary) return false
      pos += 16 * n
      r += 1
    }
    inside
  }

  /** [[GeomOps.pointInRing]] of the `n` vertices at `off`. */
  private def ringCrossesOdd(w: Array[Byte], off: Int, n: Int, little: Boolean,
                             px: Double, py: Double): Boolean = {
    var crossings = 0
    var prevX = float64(w, off, little) - px
    var prevY = float64(w, off + 8, little) - py
    var pos = off + 16
    val end = off + 16 * n
    while (pos < end) {
      val x1 = float64(w, pos, little) - px
      val y1 = float64(w, pos + 8, little) - py
      if (GeomOps.crossesRay(x1, y1, prevX, prevY)) crossings += 1
      prevX = x1
      prevY = y1
      pos += 16
    }
    (crossings & 1) == 1
  }

  /** [[GeomOps.pointOnRingBoundary]] of the `n` vertices at `off`. */
  private def ringTouches(w: Array[Byte], off: Int, n: Int, little: Boolean,
                          px: Double, py: Double): Boolean = {
    var prevX = float64(w, off, little) - px
    var prevY = float64(w, off + 8, little) - py
    var pos = off + 16
    val end = off + 16 * n
    while (pos < end) {
      val x1 = float64(w, pos, little) - px
      val y1 = float64(w, pos + 8, little) - py
      if (GeomOps.onSegment(x1, y1, prevX, prevY)) return true
      prevX = x1
      prevY = y1
      pos += 16
    }
    false
  }

  // ---- measures ----

  def area(wkb: Array[Byte]): Double = GeomOps.area(decode(wkb))
  def length(wkb: Array[Byte]): Double = GeomOps.length(decode(wkb))
  def distance(a: Array[Byte], b: Array[Byte]): Double =
    GeomOps.distance(decode(a), decode(b))

  /** Great-circle distance in meters on the WGS84 mean sphere. */
  def haversineMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val R = 6371008.8
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dp = p2 - p1; val dl = math.toRadians(lon2 - lon1)
    val a = math.sin(dp / 2) * math.sin(dp / 2) +
      math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
    2 * R * math.asin(math.min(1.0, math.sqrt(a)))
  }

  // ---- accessors / constructors ----

  def point(x: Double, y: Double): Array[Byte] = Geom.toWkb(GPoint(x, y))
  def x(wkb: Array[Byte]): Double = decode(wkb) match {
    case p: GPoint => p.x
    case g => GeomOps.centroid(g)._1
  }
  def y(wkb: Array[Byte]): Double = decode(wkb) match {
    case p: GPoint => p.y
    case g => GeomOps.centroid(g)._2
  }

  def geometryType(wkb: Array[Byte]): String = decode(wkb) match {
    case _: GPoint => "POINT"
    case _: GLine => "LINESTRING"
    case _: GPolygon => "POLYGON"
    case GMulti(4, _) => "MULTIPOINT"
    case GMulti(5, _) => "MULTILINESTRING"
    case GMulti(6, _) => "MULTIPOLYGON"
    case GMulti(_, _) => "GEOMETRYCOLLECTION"
  }

  def numPoints(wkb: Array[Byte]): Int = {
    def count(g: Geom): Int = g match {
      case _: GPoint => 1
      case l: GLine => l.numPoints
      case p: GPolygon => p.rings.map(_.numPoints).sum
      case m: GMulti => m.geoms.map(count).sum
    }
    count(decode(wkb))
  }

  // ---- cell index ----

  def cellOf(lon: Double, lat: Double, res: Int): Long = CellGrid.cellId(lon, lat, res)
  def cellParent(cell: Long): Long = CellGrid.parent(cell)

  def cellsCovering(wkb: Array[Byte], res: Int): Array[Long] =
    CellGrid.polyfill(decode(wkb), res)

  // ---- SRS transforms (hand-rolled WGS84 <-> WebMercator slice of
  //      OGRCoordinateTransformation, gdal/ogr/ogrct.cpp:905) ----

  private final val EarthRadius = 6378137.0

  def lonToMercX(lon: Double): Double = EarthRadius * math.toRadians(lon)
  def latToMercY(lat: Double): Double = {
    val clamped = math.max(-85.06, math.min(85.06, lat))
    EarthRadius * math.log(math.tan(math.Pi / 4 + math.toRadians(clamped) / 2))
  }
  def mercXToLon(x: Double): Double = math.toDegrees(x / EarthRadius)
  def mercYToLat(y: Double): Double =
    math.toDegrees(2 * math.atan(math.exp(y / EarthRadius)) - math.Pi / 2)

  /** st_transform: 4326<->3857 via the exact spherical web-mercator maps
    * (kept byte-stable for the warp/reproject goldens), every other pair
    * through the general [[graft.core.Proj]] engine (TMerc/UTM, LCC 2SP,
    * polar stereographic, LAEA, Helmert datum shifts — the common-EPSG
    * slice of `gdal/ogr/ogrct.cpp:905`).
    */
  def transform(wkb: Array[Byte], srcSrid: Int, dstSrid: Int): Array[Byte] = {
    if (srcSrid == dstSrid) return wkb
    val fn: (Double, Double) => (Double, Double) = (srcSrid, dstSrid) match {
      case (4326, 3857) => (x, y) => (lonToMercX(x), latToMercY(y))
      case (3857, 4326) => (x, y) => (mercXToLon(x), mercYToLat(y))
      case _ =>
        val src = graft.core.Proj.byEpsg(srcSrid)
        val dst = graft.core.Proj.byEpsg(dstSrid)
        (src, dst) match {
          case (Some(s), Some(d)) =>
            (x, y) => graft.core.Proj.transformPoint(s, d, x, y)
          case _ => throw new IllegalArgumentException(
            s"st_transform: unsupported SRID pair $srcSrid -> $dstSrid " +
              "(supported: 4326<->3857 spherical; general: 4326/4258/4277, " +
              "UTM 326xx/327xx/258xx, 27700, 2154, 3413, 3031, 5041, 5042, 3035)")
        }
    }
    Geom.toWkb(mapCoords(decode(wkb), fn))
  }

  /** Apply a coordinate map to every vertex of a geometry. */
  private def mapCoords(g: Geom, fn: (Double, Double) => (Double, Double)): Geom =
    g match {
      case p: GPoint => val (nx, ny) = fn(p.x, p.y); p.copy(x = nx, y = ny)
      case l: GLine =>
        val out = new Array[Double](l.xy.length)
        var i = 0
        while (i < l.numPoints) {
          val (nx, ny) = fn(l.x(i), l.y(i)); out(2 * i) = nx; out(2 * i + 1) = ny; i += 1
        }
        GLine(out, l.z, l.m)
      case p: GPolygon =>
        GPolygon(p.rings.map(r => mapCoords(r, fn).asInstanceOf[GLine]))
      case m: GMulti => GMulti(m.multiKind, m.geoms.map(mapCoords(_, fn)))
    }

  /** st_transform_srs: arbitrary SRS definitions (PROJ.4 string, WKT1, or
    * "EPSG:n") through [[graft.core.SrsParse]] — the engine's
    * `importFromProj4`/`importFromWkt` front-end
    * (`gdal/ogr/ogrct.cpp:122` OGRProj4CT over parsed OGRSpatialReference).
    * Parses are cached, so per-row cost is the projection math only.
    */
  def transformSrs(wkb: Array[Byte], srcSrs: String, dstSrs: String): Array[Byte] = {
    if (srcSrs == dstSrs) return wkb
    val src = graft.core.SrsParse.parse(srcSrs)
    val dst = graft.core.SrsParse.parse(dstSrs)
    Geom.toWkb(mapCoords(decode(wkb),
      (x, y) => graft.core.Proj.transformPoint(src, dst, x, y)))
  }
}
