package graft.raster

import graft.core.{GLine, GPolygon, GeoTransform}
import scala.collection.mutable.ArrayBuffer

/** Raster→vector polygonization: a faithful re-expression of the
  * reference's two-pass connected-component algorithm
  * (`/root/reference/gdal/alg/polygonize.cpp:439` GDALPolygonizeT,
  * `gdal/alg/gdalrasterpolygonenumerator.cpp` ProcessLine/MergePolygon/
  * CompleteMerges, RPolygon segment coalescing `polygonize.cpp:40-250`),
  * including 4- vs 8-connectedness and the periodic flush emission order
  * (`polygonize.cpp:612-647`, flush every 8th line).
  *
  * Fixture gate: 13 features with DN values
  * [107,123,115,115,140,148,123,140,156,100,101,102,103] and the DN=156
  * hole-bearing polygon WKT (`autotest/alg/polygonize.py:70-86`).
  *
  * Pixel edges are walked and rings built here only: [[addEdges]] reports
  * each unit edge to a sink and [[RPoly]] assembles rings. The distributed
  * strip variant, [[RasterStrips.polygonize]], labels each strip once with
  * [[label]], resolves components across strip seams through
  * [[BoundaryMerge]], feeds [[addEdges]] global ids, and replays each
  * polygon's edges into an [[RPoly]] in this kernel's emission order, so
  * every polygon it returns is byte-identical to this kernel's.
  */
object Polygonize {

  /** GP_NODATA_MARKER (`gdal/alg/gdal_alg_priv.h:97`). */
  final val NoDataMarker: Int = -51502112

  /** Port of GDALRasterPolygonEnumeratorT<GInt32, IntEqualityTest>. */
  final class Enumerator(connectedness: Int) {
    require(connectedness == 4 || connectedness == 8)
    var polyIdMap: Array[Int] = new Array[Int](64)
    var polyValue: Array[Int] = new Array[Int](64)
    var nNextPolygonId: Int = 0

    private def newPolygon(value: Int): Int = {
      val id = nNextPolygonId
      if (id >= polyIdMap.length) {
        polyIdMap = java.util.Arrays.copyOf(polyIdMap, polyIdMap.length * 2 + 20)
        polyValue = java.util.Arrays.copyOf(polyValue, polyValue.length * 2 + 20)
      }
      nNextPolygonId += 1
      polyIdMap(id) = id
      polyValue(id) = value
      id
    }

    private def mergePolygon(srcId0: Int, dstIdInit: Int): Unit = {
      var dstIdFinal = dstIdInit
      while (polyIdMap(dstIdFinal) != dstIdFinal) dstIdFinal = polyIdMap(dstIdFinal)
      var cur = dstIdInit
      while (polyIdMap(cur) != cur) {
        val next = polyIdMap(cur)
        polyIdMap(cur) = dstIdFinal
        cur = next
      }
      var srcId = srcId0
      while (polyIdMap(srcId) != srcId) {
        val next = polyIdMap(srcId)
        polyIdMap(srcId) = dstIdFinal
        srcId = next
      }
      polyIdMap(srcId) = dstIdFinal
    }

    def completeMerges(): Unit = {
      var iPoly = 0
      while (iPoly < nNextPolygonId) {
        var nId = polyIdMap(iPoly)
        while (nId != polyIdMap(nId)) nId = polyIdMap(nId)
        var cur = polyIdMap(iPoly)
        polyIdMap(iPoly) = nId
        while (cur != polyIdMap(cur)) {
          val next = polyIdMap(cur)
          polyIdMap(cur) = nId
          cur = next
        }
        iPoly += 1
      }
    }

    /** lastVal/lastId null for the first line. Writes ids into thisId[0..n). */
    def processLine(lastVal: Array[Int], thisVal: Array[Int],
                    lastId: Array[Int], thisId: Array[Int],
                    lastOff: Int, thisOff: Int, n: Int): Unit = {
      val c8 = connectedness == 8
      if (lastVal == null) {
        var i = 0
        while (i < n) {
          if (thisVal(i) == NoDataMarker) thisId(thisOff + i) = -1
          else if (i == 0 || thisVal(i) != thisVal(i - 1))
            thisId(thisOff + i) = newPolygon(thisVal(i))
          else thisId(thisOff + i) = thisId(thisOff + i - 1)
          i += 1
        }
        return
      }
      var i = 0
      while (i < n) {
        val v = thisVal(i)
        if (v == NoDataMarker) {
          thisId(thisOff + i) = -1
        } else if (i > 0 && v == thisVal(i - 1)) {
          thisId(thisOff + i) = thisId(thisOff + i - 1)
          if (lastVal(i) == v &&
              polyIdMap(lastId(lastOff + i)) != polyIdMap(thisId(thisOff + i)))
            mergePolygon(lastId(lastOff + i), thisId(thisOff + i))
          if (c8 && lastVal(i - 1) == v &&
              polyIdMap(lastId(lastOff + i - 1)) != polyIdMap(thisId(thisOff + i)))
            mergePolygon(lastId(lastOff + i - 1), thisId(thisOff + i))
          if (c8 && i < n - 1 && lastVal(i + 1) == v &&
              polyIdMap(lastId(lastOff + i + 1)) != polyIdMap(thisId(thisOff + i)))
            mergePolygon(lastId(lastOff + i + 1), thisId(thisOff + i))
        } else if (lastVal(i) == v) {
          thisId(thisOff + i) = lastId(lastOff + i)
        } else if (i > 0 && c8 && lastVal(i - 1) == v) {
          thisId(thisOff + i) = lastId(lastOff + i - 1)
          if (i < n - 1 && lastVal(i + 1) == v &&
              polyIdMap(lastId(lastOff + i + 1)) != polyIdMap(thisId(thisOff + i)))
            mergePolygon(lastId(lastOff + i + 1), thisId(thisOff + i))
        } else if (i < n - 1 && c8 && lastVal(i + 1) == v) {
          thisId(thisOff + i) = lastId(lastOff + i + 1)
        } else {
          thisId(thisOff + i) = newPolygon(v)
        }
        i += 1
      }
    }
  }

  /** Connected components of a w × h block: `ids(y * w + x)` is the final
    * local id of pixel (x, y) (-1 for nodata), `nIds` the enumerator's id
    * count and `values(id)` the pixel value of id.
    */
  final case class Labels(ids: Array[Int], nIds: Int, values: Array[Int]) {
    /** Value of pixel `p`, [[NoDataMarker]] for nodata. */
    def value(p: Int): Int = if (ids(p) == -1) NoDataMarker else values(ids(p))
  }

  /** Label a w × h block in one [[Enumerator]] pass. The sequential kernel
    * runs a second enumerator because it holds only two rows; here every
    * raw id is kept in one `w × h` array (`processLine` writes row y at
    * offset y·w) and mapped to its final id in place after
    * `completeMerges`, which is exactly what the second pass resolves to.
    */
  def label(vals: Array[Int], w: Int, h: Int, connectedness: Int): Labels = {
    val en = new Enumerator(connectedness)
    val ids = new Array[Int](w * h)
    var lastRow: Array[Int] = null
    var y = 0
    while (y < h) {
      val row = java.util.Arrays.copyOfRange(vals, y * w, (y + 1) * w)
      en.processLine(lastRow, row, ids, ids, math.max(0, y - 1) * w, y * w, w)
      lastRow = row
      y += 1
    }
    en.completeMerges()
    var p = 0
    while (p < ids.length) {
      if (ids(p) != -1) ids(p) = en.polyIdMap(ids(p))
      p += 1
    }
    Labels(ids, en.nNextPolygonId, java.util.Arrays.copyOf(en.polyValue, en.nNextPolygonId))
  }

  /** Port of RPolygon (`polygonize.cpp:40-250`): ring assembly from unit
    * pixel-edge segments with in-insertion coalescing.
    */
  final class RPoly(val value: Int) {
    var lastLineUpdated: Int = -1
    val strings = new ArrayBuffer[ArrayBuffer[Int]](4)

    /** Add the unit pixel edge that [[addEdges]] reports at (x, y): the
      * segment (x, y)–(x+1, y) if horizontal, (x+1, y)–(x+1, y+1) if not.
      */
    def addEdge(x: Int, y: Int, vertical: Boolean): Unit =
      if (vertical) addSegment(x + 1, y, x + 1, y + 1) else addSegment(x, y, x + 1, y)

    def addSegment(x1_0: Int, y1_0: Int, x2_0: Int, y2_0: Int): Unit = {
      var x1 = x1_0; var y1 = y1_0; var x2 = x2_0; var y2 = y2_0
      lastLineUpdated = math.max(y1, y2)
      var iString = 0
      while (iString < strings.length) {
        val s = strings(iString)
        val sz = s.length
        if (s(sz - 2) == x1 && s(sz - 1) == y1) {
          var t = x2; x2 = x1; x1 = t
          t = y2; y2 = y1; y1 = t
        }
        if (s(sz - 2) == x2 && s(sz - 1) == y2) {
          // extend an existing collinear segment instead of adding a vertex
          val lastLen = math.max(math.abs(s(sz - 4) - s(sz - 2)),
                                 math.abs(s(sz - 3) - s(sz - 1)))
          if (sz >= 4 &&
              s(sz - 4) - s(sz - 2) == (s(sz - 2) - x1) * lastLen &&
              s(sz - 3) - s(sz - 1) == (s(sz - 1) - y1) * lastLen) {
            s.remove(s.length - 2, 2)
          }
          s += x1; s += y1
          return
        }
        iString += 1
      }
      val ns = new ArrayBuffer[Int](8)
      ns += x1; ns += y1; ns += x2; ns += y2
      strings += ns
    }

    private def merge(iBase: Int, iSrc: Int, dir: Int): Unit = {
      val base = strings(iBase)
      val src = strings(iSrc)
      var i = if (dir == 1) 1 else src.length / 2 - 2
      val end = if (dir == 1) src.length / 2 else -1
      while (i != end) {
        base += src(i * 2)
        base += src(i * 2 + 1)
        i += dir
      }
      if (iSrc < strings.length - 1) strings(iSrc) = strings(strings.length - 1)
      strings.remove(strings.length - 1)
    }

    def coalesce(): Unit = {
      var iBase = 0
      while (iBase < strings.length) {
        var again = true
        while (again) {
          again = false
          var iString = iBase + 1
          while (iString < strings.length) {
            val base = strings(iBase)
            val s = strings(iString)
            if (base(base.length - 2) == s(0) && base(base.length - 1) == s(1)) {
              merge(iBase, iString, 1)
              again = true
            } else if (base(base.length - 2) == s(s.length - 2) &&
                       base(base.length - 1) == s(s.length - 1)) {
              merge(iBase, iString, -1)
              again = true
            } else iString += 1
          }
        }
        iBase += 1
      }
    }

    /** Convert coalesced strings to a polygon in geo coords. */
    def toPolygon(gt: GeoTransform): GPolygon = {
      val rings = strings.map { s =>
        val np = s.length / 2
        val xy = new Array[Double](2 * np)
        var v = 0
        while (v < np) {
          xy(2 * v) = gt.geoX(s(2 * v), s(2 * v + 1))
          xy(2 * v + 1) = gt.geoY(s(2 * v), s(2 * v + 1))
          v += 1
        }
        GLine(xy)
      }
      GPolygon(rings.toArray)
    }
  }

  /** Receiver of [[addEdges]]: one unit pixel edge of polygon `id`, whose
    * pixels hold `value`. See [[RPoly.addEdge]] for the edge's segment.
    */
  trait EdgeSink {
    def edge(id: Long, value: Int, x: Int, y: Int, vertical: Boolean): Unit
  }

  /** AddEdges port (`polygonize.cpp:268-330`) over line `iY`: compare each
    * pixel (iX-1, iY) to its neighbours above and to the right, and report
    * every edge between two different polygons to both of them, for each
    * iX the horizontal edge before the vertical one. `thisId`/`lastId` are
    * border-padded rows (length w+2, -1 for nodata and the borders) of
    * already-resolved polygon ids; `thisVal`/`lastVal` are the matching
    * unpadded pixel rows, read only where the id is not -1. The closing
    * pass below the last line passes an all -1 `thisId`.
    */
  def addEdges(thisId: Array[Long], lastId: Array[Long],
               thisVal: Array[Int], lastVal: Array[Int],
               w: Int, iY: Int, sink: EdgeSink): Unit = {
    var iX = 0
    while (iX < w + 1) {
      val nThisId = thisId(iX)
      val nRightId = thisId(iX + 1)
      val nPreviousId = lastId(iX)
      val iXReal = iX - 1
      if (nThisId != nPreviousId) {
        if (nThisId != -1L) sink.edge(nThisId, thisVal(iXReal), iXReal, iY, vertical = false)
        if (nPreviousId != -1L) sink.edge(nPreviousId, lastVal(iXReal), iXReal, iY, vertical = false)
      }
      if (nThisId != nRightId) {
        if (nThisId != -1L) sink.edge(nThisId, thisVal(iXReal), iXReal, iY, vertical = true)
        if (nRightId != -1L) sink.edge(nRightId, thisVal(iXReal + 1), iXReal, iY, vertical = true)
      }
      iX += 1
    }
  }

  /** Single-node polygonize with the reference's emission order. `vals` is
    * row-major with nodata already replaced by [[NoDataMarker]].
    */
  def polygonize(vals: Array[Int], w: Int, h: Int, connectedness: Int,
                 gt: GeoTransform): Vector[(Int, GPolygon)] = {
    // pass 1: build the id map
    val first = new Enumerator(connectedness)
    var lastId = new Array[Int](w)
    var thisId = new Array[Int](w)
    var lastRow: Array[Int] = null
    var iY = 0
    while (iY < h) {
      val row = java.util.Arrays.copyOfRange(vals, iY * w, (iY + 1) * w)
      first.processLine(lastRow, row, lastId, thisId, 0, 0, w)
      val t = lastId; lastId = thisId; thisId = t
      lastRow = row
      iY += 1
    }
    first.completeMerges()

    // pass 2: a fresh enumerator gives the same raw id sequence; resolve
    // each line's raw ids through the pass-1 map and collect its edges
    val second = new Enumerator(connectedness)
    val pool = new Array[RPoly](first.nNextPolygonId)
    val sink: EdgeSink = (id, value, x, y, vertical) => {
      var p = pool(id.toInt)
      if (p == null) { p = new RPoly(value); pool(id.toInt) = p }
      p.addEdge(x, y, vertical)
    }
    val out = Vector.newBuilder[(Int, GPolygon)]
    def flush(i: Int): Unit = {
      pool(i).coalesce()
      out += ((pool(i).value, pool(i).toPolygon(gt)))
      pool(i) = null
    }
    var lastResolved = Array.fill(w + 2)(-1L)
    var thisResolved = Array.fill(w + 2)(-1L)
    lastRow = null
    iY = 0
    while (iY <= h) {
      val row = if (iY == h) null else java.util.Arrays.copyOfRange(vals, iY * w, (iY + 1) * w)
      if (row == null) java.util.Arrays.fill(thisResolved, -1L)
      else {
        second.processLine(lastRow, row, lastId, thisId, 0, 0, w)
        var x = 0
        while (x < w) {
          thisResolved(x + 1) = if (thisId(x) == -1) -1L else first.polyIdMap(thisId(x))
          x += 1
        }
      }
      addEdges(thisResolved, lastResolved, row, lastRow, w, iY, sink)
      // periodic flush of polygons finished at least 2 lines ago
      if (iY % 8 == 7) {
        var i = 0
        while (i < second.nNextPolygonId) {
          if (pool(i) != null && pool(i).lastLineUpdated < iY - 1) flush(i)
          i += 1
        }
      }
      val t = lastId; lastId = thisId; thisId = t
      val tr = lastResolved; lastResolved = thisResolved; thisResolved = tr
      lastRow = row
      iY += 1
    }
    var i = 0
    while (i < second.nNextPolygonId) {
      if (pool(i) != null) flush(i)
      i += 1
    }
    out.result()
  }
}
