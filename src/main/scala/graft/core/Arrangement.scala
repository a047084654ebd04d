package graft.core

import scala.collection.mutable.{ArrayBuffer, HashMap => MHashMap}

/** Snap-rounded planar arrangement with winding-number face classification —
  * the engine behind exact boolean overlay on polygons WITH holes, cascaded
  * n-way union (dissolve), exact concave buffer (capsule union), and
  * geometry-level polygonize: the engine's one overlay module, behind
  * every st_intersection/st_union/st_difference/st_symdifference, dissolve
  * and buffer (reference: GEOS OverlayNG's snap-rounding noder + winding
  * extraction, which backs `gdal/ogr/ogrgeometry.cpp:3335` Union, `:3532`
  * UnionCascaded, `:3229` Buffer, `:4923` Polygonize).
  *
  * Pipeline: quantize input rings to an even-integer grid → iterated
  * pairwise noding (split at proper crossings / endpoint touches /
  * collinear overlaps, rounded to the grid) → merge coincident segments
  * with net directed weights per region → half-edge face traversal →
  * per-face winding vector via an exact ray cast from an edge midpoint,
  * displaced symbolically off the edge → boundary darts of kept faces →
  * output cycles → hole assignment by exact vertical ray shooting.
  *
  * All predicates are exact in Long arithmetic (coords ≤ 2^28, cross
  * products ≤ 2^57); only split-point placement uses doubles, which the
  * noding iteration re-checks. Complexity is O(S²) per geometry — fine for
  * per-row geometries and moderate dissolve groups.
  */
object Arrangement {

  private final val GridBits = 26

  /** Candidate-pair enumerator for noding: 0 = auto (sweep for large
    * segment counts, grid otherwise), 1 = force grid, 2 = force sweep.
    * Both enumerators feed the same exact `testPair` predicates, so the
    * arrangement output is identical either way — the fuzz batteries run
    * in forced-sweep mode to prove it. Test hook; not part of the API.
    */
  @volatile private[graft] var noderMode: Int = 0

  /** Auto threshold: below this the grid enumerator wins on constants;
    * above it the sweep's O((n+k) log n) bound beats the grid's
    * sensitivity to mixed segment scales (a coastline-complexity dissolve
    * has km-long and cm-long segments in one pass, where a single cell
    * size over- or under-buckets one of the two populations).
    */
  private final val SweepThreshold = 16384

  // ---------------------------------------------------------------- input

  /** One input ring: open or closed interleaved xy + region id + weight
    * (+1 as given, −1 to traverse reversed).
    */
  private[core] final case class InRing(xy: Array[Double], region: Int, w: Int)

  final class Builder(nRegions: Int) {
    private val rings = ArrayBuffer[InRing]()

    /** Add a ring with even-odd semantics in mind (orientation-free). */
    def addRing(xy: Array[Double], region: Int): Unit =
      rings += InRing(xy, region, 1)

    /** Add a ring normalized for nonzero-winding semantics: exterior rings
      * forced counter-clockwise (weight +1), holes clockwise (−1).
      */
    def addRingOriented(xy: Array[Double], region: Int, ccw: Boolean): Unit = {
      val n = openLen(xy) / 2
      // centered at the first vertex: the orientation sign of a small ring
      // far from the origin is otherwise decided by cancellation noise
      val x0 = xy(0); val y0 = xy(1)
      var a2 = 0.0
      var i = 0
      while (i < n) {
        val j = (i + 1) % n
        a2 += (xy(2 * i) - x0) * (xy(2 * j + 1) - y0) -
          (xy(2 * j) - x0) * (xy(2 * i + 1) - y0)
        i += 1
      }
      val isCcw = a2 >= 0
      rings += InRing(xy, region, if (isCcw == ccw) 1 else -1)
    }

    /** Every ring of an AREAL geometry into one region (even-odd).
      * Non-areal inputs (points, linestrings) contribute nothing — the
      * boolean ops keep their documented polygon-only scope instead of
      * fabricating area from an implicitly closed line.
      */
    def addGeom(g: Geom, region: Int): Unit = g match {
      case p: GPolygon => p.rings.foreach(r => addRing(r.xy, region))
      case GMulti(_, gs) => gs.foreach(addGeom(_, region))
      case _ => ()
    }

    /** Polygon with nonzero normalization: ring 0 CCW, holes CW. */
    def addPolygonOriented(p: GPolygon, region: Int): Unit = {
      if (p.rings.nonEmpty) addRingOriented(p.rings(0).xy, region, ccw = true)
      var i = 1
      while (i < p.rings.length) {
        addRingOriented(p.rings(i).xy, region, ccw = false)
        i += 1
      }
    }

    def addGeomOriented(g: Geom, region: Int): Unit = g match {
      case p: GPolygon => addPolygonOriented(p, region)
      case GMulti(_, gs) => gs.foreach(addGeomOriented(_, region))
      case _ => ()
    }

    /** Run the overlay; `keep` sees the per-region winding vector. */
    def result(keep: Array[Int] => Boolean): Seq[GPolygon] =
      Arrangement.run(rings.toSeq, nRegions, keep)

    private[core] def ringsBuf: ArrayBuffer[InRing] = rings
  }

  private def openLen(xy: Array[Double]): Int = {
    val n = xy.length
    if (n >= 4 && xy(0) == xy(n - 2) && xy(1) == xy(n - 1)) n - 2 else n
  }

  // ---------------------------------------------------- exact primitives

  @inline private def orient(ax: Long, ay: Long, bx: Long, by: Long,
                             cx: Long, cy: Long): Int = {
    val v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    java.lang.Long.signum(v)
  }

  @inline private def onSeg(ax: Long, ay: Long, bx: Long, by: Long,
                            cx: Long, cy: Long): Boolean =
    cx >= math.min(ax, bx) && cx <= math.max(ax, bx) &&
      cy >= math.min(ay, by) && cy <= math.max(ay, by)

  // ------------------------------------------------------------- noding

  private final class SegM(var ax: Long, var ay: Long, var bx: Long,
                           var by: Long, val w: Array[Int])

  /** Canonical direction: (ax,ay) < (bx,by) lexicographically. Flips the
    * weight sign when the stored direction is reversed.
    */
  private def canon(s: SegM): SegM =
    if (s.ax < s.bx || (s.ax == s.bx && s.ay < s.by)) s
    else {
      val f = new SegM(s.bx, s.by, s.ax, s.ay, s.w.map(-_))
      f
    }

  /** Sweep-line candidate enumeration (Shamos–Hoey / Bentley–Ottmann
    * style): a vertical line sweeps left→right over segment bounding
    * boxes; each fresh segment is tested against exactly the active
    * segments whose y-interval meets its own, in O((n + k) log n) total.
    * Unlike the uniform grid this is insensitive to the distribution of
    * segment lengths — a coastline-complexity dissolve mixes km-long and
    * cm-long segments in one pass, where any single grid cell size
    * over- or under-buckets one of the two populations.
    *
    * Active-set decomposition for a query y-interval Q = [lo, hi], with
    * y endpoints compressed to ranks:
    *  - active S contains Q.lo → stabbing query in a segment tree whose
    *    canonical nodes store the active ids (the walk root→leaf(Q.lo)
    *    visits exactly the canonical node of every interval containing
    *    Q.lo), with (node,pos) handles for O(log m) swap-delete;
    *  - otherwise S.lo ∈ (Q.lo, Q.hi] → range scan of a TreeMap keyed by
    *    (S.lo rank, id).
    * The two cases partition the interval-overlap predicate, so no pair
    * is reported twice. Feeds the same exact `testPair` predicates as the
    * grid enumerator, so arrangement output is identical either way
    * (GEOS's MCIndexNoder plays the same role for its snap-rounder).
    */
  private def sweepPairs(segs: ArrayBuffer[SegM])(test: (Int, Int) => Unit): Unit = {
    val n = segs.length
    if (n < 2) return
    // quantized coords are ≤ 2^29, so the Long→Double conversion is exact
    val xMin = new Array[Double](n); val xMax = new Array[Double](n)
    val yLo = new Array[Double](n); val yHi = new Array[Double](n)
    var i = 0
    while (i < n) {
      val s = segs(i)
      xMin(i) = math.min(s.ax, s.bx).toDouble
      xMax(i) = math.max(s.ax, s.bx).toDouble
      yLo(i) = math.min(s.ay, s.by).toDouble
      yHi(i) = math.max(s.ay, s.by).toDouble
      i += 1
    }
    boxSweep(n, xMin, xMax, yLo, yHi)(test)
  }

  /** Core of the sweep: report every pair of boxes with overlapping
    * (closed) x and y intervals exactly once, O((n + k) log n).
    */
  private def boxSweep(n: Int, xMin: Array[Double], xMax: Array[Double],
                       yLoV: Array[Double], yHiV: Array[Double])(
      test: (Int, Int) => Unit): Unit = {
    if (n < 2) return
    val ys = new Array[Double](2 * n)
    var i = 0
    while (i < n) { ys(2 * i) = yLoV(i); ys(2 * i + 1) = yHiV(i); i += 1 }
    java.util.Arrays.sort(ys)
    var m = 0
    i = 0
    while (i < 2 * n) { if (m == 0 || ys(m - 1) != ys(i)) { ys(m) = ys(i); m += 1 }; i += 1 }
    @inline def rankOf(v: Double): Int = {
      var lo = 0; var hi = m - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (ys(mid) < v) lo = mid + 1 else hi = mid }
      lo
    }
    val loR = new Array[Int](n); val hiR = new Array[Int](n)
    i = 0
    while (i < n) { loR(i) = rankOf(yLoV(i)); hiR(i) = rankOf(yHiV(i)); i += 1 }
    val tree = new Array[ArrayBuffer[Int]](2 * m)
    val handles = Array.fill(n)(new ArrayBuffer[Long](4)) // node<<32 | pos
    @inline def storeAt(node: Int, id: Int): Unit = {
      var l = tree(node)
      if (l == null) { l = new ArrayBuffer[Int](4); tree(node) = l }
      handles(id) += ((node.toLong << 32) | l.length)
      l += id
    }
    def insertTree(id: Int): Unit = {
      var a = loR(id) + m; var b = hiR(id) + m + 1
      while (a < b) {
        if ((a & 1) == 1) { storeAt(a, id); a += 1 }
        if ((b & 1) == 1) { b -= 1; storeAt(b, id) }
        a >>= 1; b >>= 1
      }
    }
    def removeTree(id: Int): Unit = {
      val hs = handles(id)
      var k = 0
      while (k < hs.length) {
        val node = (hs(k) >>> 32).toInt; val pos = (hs(k) & 0xffffffffL).toInt
        val l = tree(node)
        val last = l.length - 1
        val moved = l(last)
        l(pos) = moved; l.remove(last)
        if (moved != id) {
          val mh = handles(moved)
          var t = 0
          var done = false
          while (t < mh.length && !done) {
            if (mh(t) == ((node.toLong << 32) | last)) {
              mh(t) = (node.toLong << 32) | pos; done = true
            }
            t += 1
          }
        }
        k += 1
      }
      hs.clear()
    }
    val byLo = new java.util.TreeMap[Long, Integer]()
    val heap = new java.util.PriorityQueue[Integer](16,
      (a: Integer, b: Integer) => java.lang.Double.compare(xMax(a), xMax(b)))
    // sort insert order by bbox xmin — primitive parallel sort (the
    // order-preserving double→long bit transform avoids a boxed sort on
    // millions of segments per pass)
    val sortKeys = new Array[Long](n)
    val orderL = new Array[Long](n)
    i = 0
    while (i < n) {
      val bits = java.lang.Double.doubleToLongBits(xMin(i))
      sortKeys(i) = bits ^ ((bits >> 63) | Long.MinValue)
      orderL(i) = i
      i += 1
    }
    sortParallel(sortKeys, orderL, 0, n - 1)
    val order = new Array[Int](n)
    i = 0
    while (i < n) { order(i) = orderL(i).toInt; i += 1 }
    i = 0
    while (i < n) {
      val id = order(i)
      // evict actives strictly left of this bbox (touching stays active)
      while (!heap.isEmpty && xMax(heap.peek) < xMin(id)) {
        val gone: Int = heap.poll()
        removeTree(gone)
        byLo.remove(loR(gone).toLong * n + gone)
      }
      // (a) actives whose y-interval contains loR(id)
      var node = loR(id) + m
      while (node >= 1) {
        val l = tree(node)
        if (l != null) {
          var k = 0
          while (k < l.length) {
            val j = l(k)
            test(math.min(id, j), math.max(id, j)); k += 1
          }
        }
        node >>= 1
      }
      // (b) actives whose lo rank lies in (loR(id), hiR(id)]
      val it = byLo.subMap(loR(id).toLong * n + n, true,
        (hiR(id).toLong + 1) * n, false).values.iterator
      while (it.hasNext) {
        val j: Int = it.next()
        test(math.min(id, j), math.max(id, j))
      }
      insertTree(id)
      byLo.put(loR(id).toLong * n + id, id)
      heap.add(id)
      i += 1
    }
  }

  /** Open-addressing primitive Long set: the noding pass dedups millions
    * of candidate pairs and split points per pass, where boxed
    * `HashSet[Long]`/tuple `contains` were the measured hotspots.
    */
  private final class LongSet(initCap: Int) {
    private var cap = math.max(16, Integer.highestOneBit(initCap * 2 - 1) << 1)
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var usedArr = new Array[Boolean](cap)
    private var n = 0
    @inline private def mix(k: Long): Int = {
      val h = k * -7046029254386353131L
      ((h ^ (h >>> 32)) & mask).toInt
    }
    /** true if k was newly added */
    def add(k: Long): Boolean = {
      if (n * 4 >= cap * 3) grow()
      var i = mix(k)
      while (usedArr(i)) {
        if (keys(i) == k) return false
        i = (i + 1) & mask
      }
      keys(i) = k; usedArr(i) = true; n += 1
      true
    }
    private def grow(): Unit = {
      val ok = keys; val ou = usedArr
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); usedArr = new Array[Boolean](cap)
      n = 0
      var i = 0
      while (i < ok.length) {
        if (ou(i)) add(ok(i))
        i += 1
      }
    }
  }

  /** In-place quicksort of `keys` carrying `vals` along (both primitive —
    * avoids the boxed sortBy in the split-application loop).
    */
  private def sortParallel(keys: Array[Long], vals: Array[Long],
                           lo0: Int, hi0: Int): Unit = {
    var lo = lo0; var hi = hi0
    if (hi - lo < 1) return
    if (hi - lo < 12) { // insertion sort for small runs
      var i = lo + 1
      while (i <= hi) {
        val k = keys(i); val v = vals(i)
        var j = i - 1
        while (j >= lo && keys(j) > k) {
          keys(j + 1) = keys(j); vals(j + 1) = vals(j); j -= 1
        }
        keys(j + 1) = k; vals(j + 1) = v
        i += 1
      }
      return
    }
    val p = keys((lo + hi) >>> 1)
    while (lo <= hi) {
      while (keys(lo) < p) lo += 1
      while (keys(hi) > p) hi -= 1
      if (lo <= hi) {
        val tk = keys(lo); keys(lo) = keys(hi); keys(hi) = tk
        val tv = vals(lo); vals(lo) = vals(hi); vals(hi) = tv
        lo += 1; hi -= 1
      }
    }
    sortParallel(keys, vals, lo0, hi)
    sortParallel(keys, vals, lo, hi0)
  }

  @inline private def packPt(x: Long, y: Long): Long =
    (x << 32) | (y & 0xffffffffL)
  @inline private def unpackX(p: Long): Long = p >> 32
  @inline private def unpackY(p: Long): Long = (p << 32) >> 32

  private def node(segs0: ArrayBuffer[SegM]): ArrayBuffer[SegM] = {
    var segs = segs0.filter(s => s.ax != s.bx || s.ay != s.by)
    // Pass-incremental noding: a pair of segments BOTH unchanged since the
    // previous pass was already tested there and found split-free, and
    // unchanged geometry cannot develop a new crossing — so later passes
    // only pay exact predicates for pairs touching a freshly-split piece.
    // On crossing-dense inputs this drops the per-pass cost from
    // all-overlapping-pairs to pairs-near-the-previous-pass's-splits.
    var fresh = Array.fill(segs.length)(true)
    var pass = 0
    var changed = true
    // Iterate to a fixed point (a pass that detects no pending split).
    // Snap-rounding terminates because each split strictly shortens the
    // pieces on the integer grid, but a pathological cascade could take
    // many passes — cap generously and fail LOUDLY rather than proceed
    // with unresolved crossings (a silent cap yields quietly wrong
    // overlay topology; GEOS iterates to a fixed point too).
    val maxPasses = 64
    while (changed && pass < maxPasses) {
      changed = false
      pass += 1
      // split points per segment, packed (x<<32|y); linear-scan dedup for
      // short lists, lazily promoted to a LongSet once a segment collects
      // many splits (a trunk segment crossed by thousands pays O(1), not
      // O(splits) per membership test)
      val splits = new Array[ArrayBuffer[Long]](segs.length)
      val splitSets = new Array[LongSet](segs.length)
      @inline def addSplit(i: Int, x: Long, y: Long): Unit = {
        val p = packPt(x, y)
        var buf = splits(i)
        if (buf == null) { buf = new ArrayBuffer[Long](4); splits(i) = buf }
        if (splitSets(i) != null) {
          if (splitSets(i).add(p)) { buf += p; changed = true }
        } else if (buf.length >= 24) {
          val set = new LongSet(64)
          var k = 0
          while (k < buf.length) { set.add(buf(k)); k += 1 }
          splitSets(i) = set
          if (set.add(p)) { buf += p; changed = true }
        } else {
          var k = 0
          var dup = false
          while (k < buf.length && !dup) { dup = buf(k) == p; k += 1 }
          if (!dup) { buf += p; changed = true }
        }
      }
      // exact-on-segment points (endpoint touches, collinear overlaps)
      @inline def addSplitOn(i: Int, x: Long, y: Long): Unit = {
        val s = segs(i)
        if (!((x == s.ax && y == s.ay) || (x == s.bx && y == s.by)) &&
          onSeg(s.ax, s.ay, s.bx, s.by, x, y) &&
          orient(s.ax, s.ay, s.bx, s.by, x, y) == 0) {
          addSplit(i, x, y)
        }
      }
      // rounded CROSSING points: almost never exactly on the integer line —
      // snap rounding bends the segment at the split (≤ 1 grid unit); the
      // next noding pass re-checks the bent pieces. Requiring exact
      // collinearity here silently dropped every diagonal crossing.
      @inline def addSplitX(i: Int, x: Long, y: Long): Unit = {
        val s = segs(i)
        if (!((x == s.ax && y == s.ay) || (x == s.bx && y == s.by)) &&
          x >= math.min(s.ax, s.bx) - 2 && x <= math.max(s.ax, s.bx) + 2 &&
          y >= math.min(s.ay, s.by) - 2 && y <= math.max(s.ay, s.by) + 2) {
          addSplit(i, x, y)
        }
      }
      def testPair(i: Int, j: Int): Unit = {
        if (!fresh(i) && !fresh(j)) return
        val s1 = segs(i); val s2 = segs(j)
        // bbox reject
        if (!(math.max(s1.ax, s1.bx) < math.min(s2.ax, s2.bx) ||
          math.max(s2.ax, s2.bx) < math.min(s1.ax, s1.bx) ||
          math.max(s1.ay, s1.by) < math.min(s2.ay, s2.by) ||
          math.max(s2.ay, s2.by) < math.min(s1.ay, s1.by))) {
          val o1 = orient(s1.ax, s1.ay, s1.bx, s1.by, s2.ax, s2.ay)
          val o2 = orient(s1.ax, s1.ay, s1.bx, s1.by, s2.bx, s2.by)
          val o3 = orient(s2.ax, s2.ay, s2.bx, s2.by, s1.ax, s1.ay)
          val o4 = orient(s2.ax, s2.ay, s2.bx, s2.by, s1.bx, s1.by)
          if (o1 == 0 && o2 == 0) {
            // collinear: split each at the other's interior endpoints
            addSplitOn(i, s2.ax, s2.ay); addSplitOn(i, s2.bx, s2.by)
            addSplitOn(j, s1.ax, s1.ay); addSplitOn(j, s1.bx, s1.by)
          } else if (o1 != o2 && o3 != o4 && o1 != 0 && o2 != 0 && o3 != 0 && o4 != 0) {
            // proper crossing: rounded to the even grid
            val r1x = (s1.bx - s1.ax).toDouble; val r1y = (s1.by - s1.ay).toDouble
            val r2x = (s2.bx - s2.ax).toDouble; val r2y = (s2.by - s2.ay).toDouble
            val den = r1x * r2y - r1y * r2x
            val t = ((s2.ax - s1.ax) * r2y - (s2.ay - s1.ay) * r2x) / den
            val px = roundEven(s1.ax + t * r1x)
            val py = roundEven(s1.ay + t * r1y)
            addSplitX(i, px, py); addSplitX(j, px, py)
          } else {
            // endpoint touching the other's interior
            if (o1 == 0) addSplitOn(i, s2.ax, s2.ay)
            if (o2 == 0) addSplitOn(i, s2.bx, s2.by)
            if (o3 == 0) addSplitOn(j, s1.ax, s1.ay)
            if (o4 == 0) addSplitOn(j, s1.bx, s1.by)
          }
        }
      }
      if (segs.length <= 512 && noderMode != 2) {
        // small inputs: straight all-pairs
        var i = 0
        while (i < segs.length) {
          var j = i + 1
          while (j < segs.length) { testPair(i, j); j += 1 }
          i += 1
        }
      } else if (noderMode == 2 ||
        (noderMode == 0 && segs.length >= SweepThreshold)) {
        sweepPairs(segs)(testPair)
      } else {
        // uniform-grid candidate pruning: segments bucket by the bbox
        // cells they touch; only pairs sharing a cell are tested (each
        // at most once via a seen-set). Cell size tracks the average
        // segment bbox so typical dissolve inputs test O(S·k) pairs, not
        // O(S²); degenerate all-overlapping inputs degrade gracefully to
        // the exact same tests the brute-force path would run.
        var minX = Long.MaxValue; var minY = Long.MaxValue
        var maxX = Long.MinValue; var maxY = Long.MinValue
        var sumSpan = 0.0
        segs.foreach { s =>
          minX = math.min(minX, math.min(s.ax, s.bx))
          maxX = math.max(maxX, math.max(s.ax, s.bx))
          minY = math.min(minY, math.min(s.ay, s.by))
          maxY = math.max(maxY, math.max(s.ay, s.by))
          sumSpan += math.max(math.abs(s.ax - s.bx), math.abs(s.ay - s.by)).toDouble
        }
        val cell = math.max(1L, math.max((sumSpan / segs.length).toLong,
          math.max(maxX - minX, maxY - minY) / 1024))
        val buckets = MHashMap[Long, ArrayBuffer[Int]]()
        @inline def cellsOf(s: SegM)(f: Long => Unit): Unit = {
          val cx0 = (math.min(s.ax, s.bx) - minX) / cell
          val cx1 = (math.max(s.ax, s.bx) - minX) / cell
          val cy0 = (math.min(s.ay, s.by) - minY) / cell
          val cy1 = (math.max(s.ay, s.by) - minY) / cell
          val boxCells = (cx1 - cx0 + 1) * (cy1 - cy0 + 1)
          if (boxCells <= 16) {
            // small bbox: enumerate it outright
            var cx = cx0
            while (cx <= cx1) {
              var cy = cy0
              while (cy <= cy1) { f(cx * 1000003L + cy); cy += 1 }
              cx += 1
            }
          } else {
            // long segment: walk ALONG the line at half-cell steps and
            // insert the 3×3 neighborhood of each sampled cell — covers
            // every cell the segment touches in O(length/cell) entries
            // instead of O(bbox area) (a full-extent diagonal would
            // otherwise insert ~10^6 cells)
            val steps = (2 * math.max(cx1 - cx0, cy1 - cy0) + 1).toInt
            var k = 0
            var lastCx = Long.MinValue; var lastCy = Long.MinValue
            while (k <= steps) {
              val t = k.toDouble / steps
              val px = s.ax + ((s.bx - s.ax) * t).toLong
              val py = s.ay + ((s.by - s.ay) * t).toLong
              val cx = (px - minX) / cell
              val cy = (py - minY) / cell
              if (cx != lastCx || cy != lastCy) {
                var dx = -1L
                while (dx <= 1) {
                  var dy = -1L
                  while (dy <= 1) {
                    f((cx + dx) * 1000003L + (cy + dy))
                    dy += 1
                  }
                  dx += 1
                }
                lastCx = cx; lastCy = cy
              }
              k += 1
            }
          }
        }
        var i = 0
        while (i < segs.length) {
          cellsOf(segs(i))(key => buckets.getOrElseUpdate(key, ArrayBuffer[Int]()) += i)
          i += 1
        }
        val seen = new LongSet(segs.length * 4)
        buckets.valuesIterator.foreach { ids =>
          var a = 0
          while (a < ids.length) {
            var b = a + 1
            while (b < ids.length) {
              val i0 = math.min(ids(a), ids(b)); val j0 = math.max(ids(a), ids(b))
              // fresh check before the dedup set: old-old pairs were
              // already tested in the pass that created them
              if ((fresh(i0) || fresh(j0)) &&
                seen.add(i0.toLong * Int.MaxValue + j0)) testPair(i0, j0)
              b += 1
            }
            a += 1
          }
        }
      }
      if (changed) {
        val next = ArrayBuffer[SegM]()
        val nextFresh = ArrayBuffer[Boolean]()
        var i = 0
        while (i < segs.length) {
          val s = segs(i)
          val buf = splits(i)
          if (buf == null || buf.isEmpty) { next += s; nextFresh += false }
          else {
            // order split points along the segment by exact projection
            // (primitive parallel sort — no boxing, no buffer copies)
            val np = buf.length
            val keys = new Array[Long](np)
            val pts = new Array[Long](np)
            val dx = s.bx - s.ax; val dy = s.by - s.ay
            var k = 0
            while (k < np) {
              val p = buf(k)
              keys(k) = (unpackX(p) - s.ax) * dx + (unpackY(p) - s.ay) * dy
              pts(k) = p
              k += 1
            }
            sortParallel(keys, pts, 0, np - 1)
            var x1 = s.ax; var y1 = s.ay
            k = 0
            while (k <= np) {
              val x2 = if (k < np) unpackX(pts(k)) else s.bx
              val y2 = if (k < np) unpackY(pts(k)) else s.by
              if (x1 != x2 || y1 != y2) {
                next += new SegM(x1, y1, x2, y2, s.w.clone())
                nextFresh += true
                x1 = x2; y1 = y2
              }
              k += 1
            }
          }
          i += 1
        }
        segs = next
        fresh = nextFresh.toArray
      }
    }
    // the loop only exits cleanly via a detection pass that found no
    // pending split (changed == false); exiting on the cap means the
    // last pass still split segments that were never re-checked
    if (changed)
      throw new IllegalStateException(
        s"arrangement noding did not converge after $maxPasses passes " +
          s"(${segs.length} segments still producing splits) — refusing to " +
          "build an overlay with unresolved crossings")
    // merge coincident segments: net directed weight per region
    val merged = MHashMap[(Long, Long, Long, Long), Array[Int]]()
    segs.foreach { s0 =>
      val s = canon(s0)
      val key = (s.ax, s.ay, s.bx, s.by)
      merged.get(key) match {
        case Some(w) => var r = 0; while (r < w.length) { w(r) += s.w(r); r += 1 }
        case None => merged(key) = s.w.clone()
      }
    }
    val out = ArrayBuffer[SegM]()
    merged.foreach { case ((ax, ay, bx, by), w) =>
      if (w.exists(_ != 0)) out += new SegM(ax, ay, bx, by, w)
    }
    out
  }

  @inline private def roundEven(v: Double): Long = math.round(v / 2.0) * 2

  // -------------------------------------------------------- face machinery

  private final class Graph(segs: ArrayBuffer[SegM]) {
    // prune dangling edges (degree < 2 vertices) iteratively
    private var edges = segs
    locked()
    private def locked(): Unit = {
      var pruned = true
      while (pruned) {
        pruned = false
        val deg = MHashMap[(Long, Long), Int]().withDefaultValue(0)
        edges.foreach { s =>
          deg((s.ax, s.ay)) += 1; deg((s.bx, s.by)) += 1
        }
        val keep = edges.filter(s => deg((s.ax, s.ay)) >= 2 && deg((s.bx, s.by)) >= 2)
        if (keep.length != edges.length) { pruned = true; edges = keep }
      }
    }

    val es: Array[SegM] = edges.toArray
    val nE: Int = es.length
    // dart 2e = a→b, 2e+1 = b→a
    @inline def twin(d: Int): Int = d ^ 1
    @inline def tailX(d: Int): Long = if ((d & 1) == 0) es(d >> 1).ax else es(d >> 1).bx
    @inline def tailY(d: Int): Long = if ((d & 1) == 0) es(d >> 1).ay else es(d >> 1).by
    @inline def headX(d: Int): Long = if ((d & 1) == 0) es(d >> 1).bx else es(d >> 1).ax
    @inline def headY(d: Int): Long = if ((d & 1) == 0) es(d >> 1).by else es(d >> 1).ay
    @inline def dirX(d: Int): Long = headX(d) - tailX(d)
    @inline def dirY(d: Int): Long = headY(d) - tailY(d)

    // darts leaving each vertex, sorted CCW by angle (exact comparator)
    val outDarts: MHashMap[(Long, Long), Array[Int]] = {
      val m = MHashMap[(Long, Long), ArrayBuffer[Int]]()
      var d = 0
      while (d < 2 * nE) {
        m.getOrElseUpdate((tailX(d), tailY(d)), ArrayBuffer[Int]()) += d
        d += 1
      }
      val res = MHashMap[(Long, Long), Array[Int]]()
      m.foreach { case (v, ds) =>
        res(v) = ds.toArray.sortWith { (d1, d2) =>
          val x1 = dirX(d1); val y1 = dirY(d1)
          val x2 = dirX(d2); val y2 = dirY(d2)
          val h1 = if (y1 < 0 || (y1 == 0 && x1 < 0)) 1 else 0
          val h2 = if (y2 < 0 || (y2 == 0 && x2 < 0)) 1 else 0
          if (h1 != h2) h1 < h2
          else x1 * y2 - y1 * x2 > 0 // d1 strictly CCW-before d2
        }
      }
      res
    }
    private val dartPos: Array[Int] = {
      val p = new Array[Int](2 * nE)
      outDarts.valuesIterator.foreach { arr =>
        var i = 0
        while (i < arr.length) { p(arr(i)) = i; i += 1 }
      }
      p
    }

    /** Face-to-the-left traversal: the CCW-predecessor of twin(d) among
      * darts leaving head(d), restricted to `included` darts.
      */
    def next(d: Int, included: Int => Boolean): Int = {
      val v = (headX(d), headY(d))
      val arr = outDarts(v)
      var i = dartPos(twin(d))
      var steps = 0
      while (steps <= arr.length) {
        i = (i - 1 + arr.length) % arr.length
        if (included(arr(i))) return arr(i)
        steps += 1
      }
      -1
    }

    /** Extract boundary cycles over the included darts.
      * @return (cycleIdPerDart (−1 = excluded), cycles as dart lists)
      */
    def cycles(included: Int => Boolean): (Array[Int], ArrayBuffer[ArrayBuffer[Int]]) = {
      val cid = Array.fill(2 * nE)(-1)
      val out = ArrayBuffer[ArrayBuffer[Int]]()
      var d0 = 0
      while (d0 < 2 * nE) {
        if (included(d0) && cid(d0) == -1) {
          val cyc = ArrayBuffer[Int]()
          var d = d0
          var guard = 0
          while (guard <= 2 * nE && (cyc.isEmpty || d != d0)) {
            cid(d) = out.length
            cyc += d
            d = next(d, included)
            if (d == -1) { guard = 2 * nE + 1 } // defensive
            guard += 1
          }
          out += cyc
        }
        d0 += 1
      }
      (cid, out)
    }

    /** Signed area ×2 of a dart cycle (double; exact enough for sign at
      * our grid scale).
      */
    def area2(cyc: ArrayBuffer[Int]): Double = {
      if (cyc.isEmpty) return 0.0
      val x0 = tailX(cyc(0)); val y0 = tailY(cyc(0))
      var a = 0.0
      cyc.foreach { d =>
        val ax = (tailX(d) - x0).toDouble; val ay = (tailY(d) - y0).toDouble
        val bx = (headX(d) - x0).toDouble; val by = (headY(d) - y0).toDouble
        a += ax * by - ay * bx
      }
      a
    }

    /** Winding vector of the face to the LEFT of dart d: exact ray cast
      * from the (integral, even-grid) midpoint of d's edge, displaced
      * symbolically to d's left, along d's left normal.
      */
    def winding(d: Int, nRegions: Int): Array[Int] = {
      val mx = (tailX(d) + headX(d)) / 2
      val my = (tailY(d) + headY(d)) / 2
      val nx = -dirY(d); val ny = dirX(d) // left normal
      val w = new Array[Int](nRegions)
      var e = 0
      while (e < nE) {
        val s = es(e)
        // sides of the ray LINE through m with direction n (0 → +1 symbolic)
        val ca = java.lang.Long.signum(nx * (s.ay - my) - ny * (s.ax - mx))
        val cb = java.lang.Long.signum(nx * (s.by - my) - ny * (s.bx - mx))
        val sa = if (ca == 0) 1 else ca
        val sb = if (cb == 0) 1 else cb
        if (sa != sb) {
          // t > 0 test: t = cross(a−m, b−a) / cross(n, b−a)
          val bax = s.bx - s.ax; val bay = s.by - s.ay
          val num = java.lang.Long.signum((s.ax - mx) * bay - (s.ay - my) * bax)
          val den = java.lang.Long.signum(nx * bay - ny * bax)
          if (num != 0 && den != 0 && num == den) {
            // crossing direction sign: canonical a→b crossing the ray
            // left-to-right vs right-to-left = sign of cross(n, b−a)
            var r = 0
            while (r < w.length) { w(r) += den * s.w(r); r += 1 }
          }
        }
        e += 1
      }
      w
    }
  }

  // ----------------------------------------------------------- assembly

  /** Assign each negative (hole) cycle to the cycle bounding its face from
    * below, by exact vertical ray shooting from the cycle's bottom-most
    * vertex over the boundary edge set. Returns parent cycle id or −1
    * (unbounded).
    */
  private def holeParent(g: Graph, cyc: ArrayBuffer[Int],
                         boundaryDarts: Array[Boolean], cid: Array[Int]): Int = {
    // bottom-most then left-most tail vertex of the cycle
    var vx = g.tailX(cyc(0)); var vy = g.tailY(cyc(0))
    cyc.foreach { d =>
      val x = g.tailX(d); val y = g.tailY(d)
      if (y < vy || (y == vy && x < vx)) { vx = x; vy = y }
    }
    var best = -1
    var bestNum = BigInt(0); var bestDen = BigInt(1) // yc as num/den, den>0
    var e = 0
    while (e < g.nE) {
      val dUp = 2 * e // canonical a→b has ax<bx or (ax==bx) — vertical skipped
      if (boundaryDarts(dUp) || boundaryDarts(dUp + 1)) {
        val s = g.es(e)
        // orient left-to-right; half-open [x1, x2)
        val (x1, y1, x2, y2) = if (s.ax < s.bx) (s.ax, s.ay, s.bx, s.by)
          else (s.bx, s.by, s.ax, s.ay)
        if (x1 <= vx && vx < x2) {
          // yc = y1 + (vx−x1)(y2−y1)/(x2−x1); require yc < vy strictly
          val den = x2 - x1
          val num = y1 * den + (vx - x1) * (y2 - y1)
          if (num < vy * den) {
            val bn = BigInt(num); val bd = BigInt(den)
            if (best == -1 || bn * bestDen > bestNum * bd) {
              bestNum = bn; bestDen = bd
              // dart pointing +x has the face above on its left
              val plusX = if (g.es(e).ax < g.es(e).bx) 2 * e else 2 * e + 1
              best = cid(if (boundaryDarts(plusX)) plusX else g.twin(plusX))
            }
          }
        }
      }
      e += 1
    }
    best
  }

  private def emit(g: Graph, cycles: ArrayBuffer[ArrayBuffer[Int]],
                   cid: Array[Int], boundaryDarts: Array[Boolean],
                   fromGrid: (Long, Long) => (Double, Double)): Seq[GPolygon] = {
    val areas = cycles.map(g.area2)
    val nC = cycles.length
    // positives = exteriors; negatives link to the cycle below them
    val parent = Array.fill(nC)(-1)
    var c = 0
    while (c < nC) {
      if (areas(c) < -1e-9 && cycles(c).length >= 3)
        parent(c) = holeParent(g, cycles(c), boundaryDarts, cid)
      c += 1
    }
    // resolve chains neg→neg→pos
    def root(c0: Int): Int = {
      var c = c0; var guard = 0
      while (c != -1 && areas(c) < 0 && guard < nC + 1) { c = parent(c); guard += 1 }
      if (c != -1 && areas(c) > 0) c else -1
    }
    val holesOf = MHashMap[Int, ArrayBuffer[Int]]()
    c = 0
    while (c < nC) {
      if (areas(c) < -1e-9 && cycles(c).length >= 3) {
        val r = root(c)
        if (r != -1) holesOf.getOrElseUpdate(r, ArrayBuffer[Int]()) += c
      }
      c += 1
    }
    def ringOf(cyc: ArrayBuffer[Int]): GLine = {
      val pts = new Array[Double]((cyc.length + 1) * 2)
      var i = 0
      cyc.foreach { d =>
        val (x, y) = fromGrid(g.tailX(d), g.tailY(d))
        pts(2 * i) = x; pts(2 * i + 1) = y
        i += 1
      }
      pts(2 * i) = pts(0); pts(2 * i + 1) = pts(1)
      GLine(pts)
    }
    val out = ArrayBuffer[GPolygon]()
    c = 0
    while (c < nC) {
      if (areas(c) > 1e-9 && cycles(c).length >= 3) {
        val rings = ringOf(cycles(c)) +:
          holesOf.getOrElse(c, ArrayBuffer.empty[Int]).map(h => ringOf(cycles(h))).toArray
        out += GPolygon(rings.toArray)
      }
      c += 1
    }
    out.toSeq
  }

  // ------------------------------------------------------------- drivers

  /** `collapsed` != null switches ring collapse from the loud error to
    * collect-and-skip: rings whose every vertex snaps to one grid point
    * are recorded for the caller to resolve (see [[unionCascaded]]).
    */
  private def quantize(rings: Seq[InRing], nRegions: Int,
                       collapsed: ArrayBuffer[InRing] = null)
      : (ArrayBuffer[SegM], (Long, Long) => (Double, Double)) = {
    var minX = Double.MaxValue; var minY = Double.MaxValue
    var maxX = -Double.MaxValue; var maxY = -Double.MaxValue
    rings.foreach { r =>
      var i = 0
      while (i < r.xy.length / 2) {
        minX = math.min(minX, r.xy(2 * i)); maxX = math.max(maxX, r.xy(2 * i))
        minY = math.min(minY, r.xy(2 * i + 1)); maxY = math.max(maxY, r.xy(2 * i + 1))
        i += 1
      }
    }
    val extent = math.max(math.max(maxX - minX, maxY - minY), 1e-12)
    val scale = (1L << GridBits).toDouble / extent
    @inline def q(v: Double, m: Double): Long = math.round((v - m) * scale) * 2
    val segs = ArrayBuffer[SegM]()
    rings.foreach { r =>
      val n = openLen(r.xy) / 2
      if (n >= 3) {
        // ring direction honors the weight sign
        var emitted = 0
        var distinctIn = false
        var i = 0
        while (i < n) {
          val j = (i + 1) % n
          if (r.xy(2 * i) != r.xy(2 * j) || r.xy(2 * i + 1) != r.xy(2 * j + 1))
            distinctIn = true
          val ax = q(r.xy(2 * i), minX); val ay = q(r.xy(2 * i + 1), minY)
          val bx = q(r.xy(2 * j), minX); val by = q(r.xy(2 * j + 1), minY)
          val w = new Array[Int](nRegions)
          w(r.region) = r.w
          if (ax != bx || ay != by) {
            segs += (if (r.w >= 0) new SegM(ax, ay, bx, by, w)
                     else { w(r.region) = 1; new SegM(bx, by, ax, ay, w) })
            emitted += 1
          }
          i += 1
        }
        // a non-degenerate input ring that produced NO segments collapsed
        // entirely at the shared snapping grid (tiny feature in a huge
        // combined extent) — fail loudly rather than silently dropping
        // the feature from the overlay/dissolve result
        if (emitted == 0 && distinctIn) {
          if (collapsed != null) collapsed += r
          else throw new IllegalArgumentException(
            "arrangement: input ring collapses at the shared snapping grid " +
              s"(extent $extent vs feature size below ${extent / (1L << GridBits)}); " +
              "split the operation into locality groups or scale inputs")
        }
      }
    }
    val back = (ix: Long, iy: Long) => (ix / 2.0 / scale + minX, iy / 2.0 / scale + minY)
    (segs, back)
  }

  /** Winding vectors for ALL cycles with one exact ray cast per dual
    * connected component plus an O(F + E) breadth-first propagation,
    * replacing the per-cycle ray cast (which made face classification
    * O(F·E) — on a dense dissolve arrangement the faces outnumber the
    * input segments and that quadratic term dominated everything else).
    *
    * Propagation rule (the invariant the ray cast itself integrates):
    * crossing edge e from its right side to its left adds w(e), so
    * wind(leftFace(e)) = wind(rightFace(e)) + w(e), where for the forward
    * dart 2e the left face is cid(2e) and the right face is cid(2e+1).
    * Cycles of one planar connected component form a connected dual graph
    * (faces adjacent via twin darts), so a single absolute anchor per
    * component determines every face. The anchor is the component's outer
    * cycle — the unique cycle with negative signed area (bounded faces
    * traverse CCW-positive; the areas of all cycles sum to zero) — whose
    * winding one ray cast computes exactly as before.
    */
  private def windAll(g: Graph, cid: Array[Int],
                      cycs: ArrayBuffer[ArrayBuffer[Int]],
                      nRegions: Int): Array[Array[Int]] = {
    val nC = cycs.length
    val wind = new Array[Array[Int]](nC)
    val seen = new Array[Boolean](nC)
    val done = new Array[Boolean](nC)
    val areas = new Array[Double](nC)
    var c = 0
    while (c < nC) { areas(c) = g.area2(cycs(c)); c += 1 }
    // Pass 1: dual components, each with its outer cycle (unique
    // negative-area cycle) and the component's bottom-most vertex.
    val outers = ArrayBuffer[Int]()        // outer cycle id per component
    val anchorX = ArrayBuffer[Long]()      // bottom-most vertex per component
    val anchorY = ArrayBuffer[Long]()
    c = 0
    while (c < nC) {
      if (!seen(c)) {
        val comp = ArrayBuffer[Int](c)
        seen(c) = true
        var qi = 0
        var vx = Long.MaxValue; var vy = Long.MaxValue
        while (qi < comp.length) {
          cycs(comp(qi)).foreach { d =>
            val ty = g.tailY(d); val tx = g.tailX(d)
            if (ty < vy || (ty == vy && tx < vx)) { vy = ty; vx = tx }
            val nb = cid(g.twin(d))
            if (nb >= 0 && !seen(nb)) { seen(nb) = true; comp += nb }
          }
          qi += 1
        }
        var outer = comp(0)
        comp.foreach { k => if (areas(k) < areas(outer)) outer = k }
        outers += outer
        anchorX += vx; anchorY += vy
      }
      c += 1
    }
    // Pass 2: absolute winding at each component's outer face. The point
    // symbolically below-left of the component's bottom-most vertex v is
    // in its outer face (no component point lies below v), and no edge of
    // ANY component passes exactly through v (noding splits pass-throughs
    // and shared vertices merge dual components). Few components → one
    // exact ray cast each (as before); many components (a dissolve of
    // thousands of disjoint clusters in one arrangement) → one batched
    // x-sweep: a downward ray from (vx−ε', vy−ε) crosses edge e iff e's
    // x-span straddles vx−ε' and e's y at that x is below vy, adding
    // sign(bx−ax)·w(e) — the same integrand the per-dart ray cast uses.
    if (outers.length <= 8 || g.nE == 0) {
      var k = 0
      while (k < outers.length) {
        wind(outers(k)) = g.winding(cycs(outers(k))(0), nRegions)
        k += 1
      }
    } else {
      val nA = outers.length
      val acc = Array.fill(nA)(new Array[Int](nRegions))
      // anchors ascending by x (ray at vx−ε': edge active iff minx < vx ≤ maxx)
      val aOrd = Array.tabulate(nA)(identity)
      scala.util.Sorting.stableSort(aOrd, (p: Int, q: Int) => anchorX(p) < anchorX(q))
      val eOrd = Array.tabulate(g.nE)(identity)
      scala.util.Sorting.stableSort(eOrd, (p: Int, q: Int) =>
        math.min(g.es(p).ax, g.es(p).bx) < math.min(g.es(q).ax, g.es(q).bx))
      // active = edges with minx < vx ≤ maxx; expired entries (maxx < vx)
      // are swap-compacted out during the walk (amortized O(1) each)
      val active = new java.util.ArrayList[Integer]()
      var ei = 0
      var ai = 0
      while (ai < nA) {
        val a = aOrd(ai)
        val vx = anchorX(a); val vy = anchorY(a)
        while (ei < g.nE &&
          math.min(g.es(eOrd(ei)).ax, g.es(eOrd(ei)).bx) < vx) {
          active.add(eOrd(ei)); ei += 1
        }
        var t = 0
        while (t < active.size) {
          val e: Int = active.get(t)
          val s = g.es(e)
          if (math.max(s.ax, s.bx) < vx) { // expired: swap-compact
            active.set(t, active.get(active.size - 1))
            active.remove(active.size - 1)
            ()
          } else {
            // y of e at x = vx below vy?  sign((ay−vy)·dx + (vx−ax)·dy)·sign(dx) < 0
            val dx = s.bx - s.ax; val dy = s.by - s.ay
            val num = (s.ay - vy) * dx + (vx - s.ax) * dy
            val below = java.lang.Long.signum(num) * java.lang.Long.signum(dx) < 0
            if (below) {
              val den = java.lang.Long.signum(dx)
              var r = 0
              while (r < nRegions) { acc(a)(r) += den * s.w(r); r += 1 }
            }
            t += 1
          }
        }
        ai += 1
      }
      var k = 0
      while (k < nA) { wind(outers(k)) = acc(k); k += 1 }
    }
    // Pass 3: propagate across twin darts within each component.
    var ci = 0
    while (ci < outers.length) {
      val outer = outers(ci)
      val q = ArrayBuffer[Int](outer)
      done(outer) = true
      var qj = 0
      while (qj < q.length) {
        val cur = q(qj)
        cycs(cur).foreach { d =>
          val nb = cid(g.twin(d))
          if (nb >= 0 && !done(nb)) {
            done(nb) = true
            val e = d >> 1
            val sgn = if ((d & 1) == 0) 1 else -1
            // wind(cur) = wind(nb) + sgn·w(e)  ⇒  wind(nb) = wind(cur) − sgn·w(e)
            val wv = new Array[Int](nRegions)
            var r = 0
            while (r < nRegions) { wv(r) = wind(cur)(r) - sgn * g.es(e).w(r); r += 1 }
            wind(nb) = wv
            q += nb
          }
        }
        qj += 1
      }
      ci += 1
    }
    wind
  }

  private def run(rings: Seq[InRing], nRegions: Int,
                  keep: Array[Int] => Boolean,
                  collapsed: ArrayBuffer[InRing] = null): Seq[GPolygon] = {
    if (rings.isEmpty) return Seq.empty
    val (raw, back) = quantize(rings, nRegions, collapsed)
    val noded = node(raw)
    if (noded.isEmpty) return Seq.empty
    val g = new Graph(noded)
    if (g.nE == 0) return Seq.empty
    val (cid, cycs) = g.cycles(_ => true)
    // winding per cycle (face to the left of its darts)
    val wind = windAll(g, cid, cycs, nRegions)
    val kept = wind.map(keep)
    val selected = new Array[Boolean](2 * g.nE)
    var d = 0
    while (d < 2 * g.nE) {
      val c = cid(d); val t = cid(g.twin(d))
      if (c >= 0 && t >= 0 && kept(c) && !kept(t)) selected(d) = true
      d += 1
    }
    if (!selected.exists(identity)) return Seq.empty
    val (cid2, cycs2) = g.cycles(dd => selected(dd))
    emit(g, cycs2, cid2, selected, back)
  }

  // ------------------------------------------------------------ public ops

  /** Boolean overlay of two geometries (each a polygon / multipolygon,
    * holes honored, even-odd per side).
    * op: 0 = intersection, 1 = union, 2 = difference, 3 = symdifference.
    */
  def overlay2(a: Geom, b: Geom, op: Int): Seq[GPolygon] = {
    val bld = new Builder(2)
    bld.addGeom(a, 0)
    bld.addGeom(b, 1)
    val keep: Array[Int] => Boolean = op match {
      case 0 => w => (w(0) & 1) != 0 && (w(1) & 1) != 0
      case 1 => w => (w(0) & 1) != 0 || (w(1) & 1) != 0
      case 2 => w => (w(0) & 1) != 0 && (w(1) & 1) == 0
      case _ => w => ((w(0) & 1) != 0) != ((w(1) & 1) != 0)
    }
    bld.result(keep)
  }

  /** Cascaded (n-way) union / dissolve: one region, nonzero winding with
    * normalized ring orientations (`ogrgeometry.cpp:3532` UnionCascaded).
    *
    * Inputs are first grouped into envelope-overlap connected components
    * (like GEOS CascadedUnion's spatial clustering): disjoint components
    * cannot interact, so each gets its OWN arrangement — and its own
    * snapping grid scaled to ITS extent. A 1 mm feature a continent away
    * from the rest therefore dissolves exactly instead of collapsing at
    * a shared grid.
    *
    * Features that genuinely overlap at extreme size ratios (a ring
    * smaller than the component's snap step) no longer error: a collapsed
    * SHELL is resolved against the component's result — dropped when its
    * representative point lies inside (union-exact: it added nothing) and
    * re-dissolved recursively at its own locality grid and appended when
    * outside (exact for disjoint placement; a shell straddling the big
    * boundary lands within the engine's documented snap tolerance either
    * way). A collapsed HOLE is below snap resolution by construction and
    * is dropped like any other sub-tolerance detail.
    */
  def unionCascaded(gs: Iterable[Geom]): Seq[GPolygon] =
    unionCascadedDepth(gs, 0)

  private def unionCascadedDepth(gs: Iterable[Geom], depth: Int): Seq[GPolygon] = {
    // each level shrinks the max feature extent by ~2^GridBits; doubles
    // run out of dynamic range long before 48 levels
    require(depth < 48, "unionCascaded: collapse recursion did not converge")
    val items = gs.toIndexedSeq
    if (items.isEmpty) return Seq.empty
    val envs = items.map(_.envelope)
    // union-find over envelope intersections
    val parent = Array.tabulate(items.length)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    if (items.length <= 256) {
      var i = 0
      while (i < items.length) {
        var j = i + 1
        while (j < items.length) {
          if (envs(i).intersects(envs(j))) {
            val ri = find(i); val rj = find(j)
            if (ri != rj) parent(ri) = rj
          }
          j += 1
        }
        i += 1
      }
    } else {
      // large dissolve groups: the O(n²) all-pairs envelope test would
      // dominate (10k features = 5·10⁷ checks); the box sweep reports
      // exactly the overlapping envelope pairs in O((n + k) log n)
      boxSweep(items.length,
        envs.map(_.minX).toArray, envs.map(_.maxX).toArray,
        envs.map(_.minY).toArray, envs.map(_.maxY).toArray) { (i, j) =>
        val ri = find(i); val rj = find(j)
        if (ri != rj) parent(ri) = rj
      }
    }
    val byComp = items.indices.groupBy(find)
    byComp.valuesIterator.flatMap { idxs =>
      val bld = new Builder(1)
      idxs.foreach(k => bld.addGeomOriented(items(k), 0))
      val collapsed = ArrayBuffer[InRing]()
      val main = run(bld.ringsBuf.toSeq, 1, w => w(0) != 0, collapsed)
      if (collapsed.isEmpty) main
      else {
        // resolve collapsed shells against the component result.
        // Shell-ness is the EFFECTIVE winding (stored orientation × weight),
        // not the raw weight: addRingOriented stores a CW-wound input
        // exterior with w = -1 (the orientation-normalization flip), and
        // a conventionally CW-wound hole with w = +1 — the raw-w test
        // would drop the former and resurrect the latter.
        val outsideShells = collapsed.filter { r =>
          val n = openLen(r.xy) / 2
          val x0 = r.xy(0); val y0 = r.xy(1)
          var a2 = 0.0
          var i = 0
          while (i < n) {
            val j = (i + 1) % n
            a2 += (r.xy(2 * i) - x0) * (r.xy(2 * j + 1) - y0) -
              (r.xy(2 * j) - x0) * (r.xy(2 * i + 1) - y0)
            i += 1
          }
          val isShell = if (a2 >= 0) r.w > 0 else r.w < 0
          isShell && !main.exists(p =>
            GeomOps.polygonContainsPoint(p, r.xy(0), r.xy(1)))
        }
        if (outsideShells.isEmpty) main
        else main ++ unionCascadedDepth(
          outsideShells.map(r => GPolygon(Array(GLine(r.xy)))).toSeq,
          depth + 1)
      }
    }.toSeq
  }

  /** Exact buffer of a polygon / multipolygon / line by distance `dist`
    * (GEOS quadrant-segment arc convention, 4·quadSegs per full turn):
    * positive = union of the (oriented) geometry with one capsule per
    * edge; negative = polygon minus the capsules. Handles concave rings
    * exactly — the arrangement resolves all offset self-intersections.
    */
  def buffer(gm: Geom, dist: Double, quadSegs: Int = 8): Seq[GPolygon] = {
    val n = 4 * quadSegs
    val d = math.abs(dist)
    if (d == 0) return gm match {
      case p: GPolygon => Seq(p)
      case GMulti(6, gs) => gs.toSeq.collect { case p: GPolygon => p }
      case _ => Seq.empty
    }
    val bld = new Builder(2)
    var anyPoly = false

    def capsule(x1: Double, y1: Double, x2: Double, y2: Double): Unit = {
      val len = math.hypot(x2 - x1, y2 - y1)
      if (len < 1e-15) return
      val ang = math.atan2(y2 - y1, x2 - x1)
      val pts = ArrayBuffer[Double]()
      // semicircle fan around (x2,y2) from ang−π/2 to ang+π/2, then
      // around (x1,y1) from ang+π/2 to ang+3π/2 — a closed CCW capsule
      var k = 0
      while (k <= n / 2) {
        val a = ang - math.Pi / 2 + math.Pi * k / (n / 2)
        pts += x2 + d * math.cos(a); pts += y2 + d * math.sin(a)
        k += 1
      }
      k = 0
      while (k <= n / 2) {
        val a = ang + math.Pi / 2 + math.Pi * k / (n / 2)
        pts += x1 + d * math.cos(a); pts += y1 + d * math.sin(a)
        k += 1
      }
      bld.addRingOriented(pts.toArray, 1, ccw = true)
    }

    def addEdges(xy: Array[Double], closed: Boolean): Unit = {
      val m = openLen(xy) / 2
      var i = 0
      val last = if (closed) m else m - 1
      while (i < last) {
        val j = (i + 1) % m
        capsule(xy(2 * i), xy(2 * i + 1), xy(2 * j), xy(2 * j + 1))
        i += 1
      }
    }

    def walk(g: Geom): Unit = g match {
      case p: GPolygon =>
        anyPoly = true
        bld.addPolygonOriented(p, 0)
        p.rings.foreach(r => addEdges(r.xy, closed = true))
      case l: GLine => addEdges(l.xy, closed = l.isClosed)
      case p: GPoint => val x = p.x; val y = p.y;
        // a zero-length "edge": emit the full circle fan
        val pts = new Array[Double](2 * n)
        var k = 0
        while (k < n) {
          val a = 2 * math.Pi * k / n
          pts(2 * k) = x + d * math.cos(a); pts(2 * k + 1) = y + d * math.sin(a)
          k += 1
        }
        bld.addRingOriented(pts, 1, ccw = true)
      case GMulti(_, gs) => gs.foreach(walk)
    }
    walk(gm)

    if (dist >= 0) bld.result(w => w(0) != 0 || w(1) != 0)
    else {
      if (!anyPoly) return Seq.empty
      bld.result(w => w(0) != 0 && w(1) == 0)
    }
  }

  /** Geometry-level polygonize (`ogrgeometry.cpp:4923` Polygonize /
    * GEOS Polygonizer): node the input linework, drop dangles, and emit
    * every bounded face as a polygon (with holes).
    */
  def polygonizeLines(lines: Iterable[GLine]): Seq[GPolygon] = {
    val segs = ArrayBuffer[SegM]()
    var minX = Double.MaxValue; var minY = Double.MaxValue
    var maxX = -Double.MaxValue; var maxY = -Double.MaxValue
    lines.foreach { l =>
      var i = 0
      while (i < l.numPoints) {
        minX = math.min(minX, l.x(i)); maxX = math.max(maxX, l.x(i))
        minY = math.min(minY, l.y(i)); maxY = math.max(maxY, l.y(i))
        i += 1
      }
    }
    if (minX > maxX) return Seq.empty
    val extent = math.max(math.max(maxX - minX, maxY - minY), 1e-12)
    val scale = (1L << GridBits).toDouble / extent
    lines.foreach { l =>
      var i = 0
      while (i < l.numPoints - 1) {
        val ax = math.round((l.x(i) - minX) * scale) * 2
        val ay = math.round((l.y(i) - minY) * scale) * 2
        val bx = math.round((l.x(i + 1) - minX) * scale) * 2
        val by = math.round((l.y(i + 1) - minY) * scale) * 2
        if (ax != bx || ay != by) segs += new SegM(ax, ay, bx, by, Array(1))
        i += 1
      }
    }
    // polygonize keeps coincident duplicates as one edge
    val noded0 = node(segs)
    val dedup = MHashMap[(Long, Long, Long, Long), SegM]()
    noded0.foreach { s0 =>
      val s = canon(s0)
      dedup.getOrElseUpdate((s.ax, s.ay, s.bx, s.by), new SegM(s.ax, s.ay, s.bx, s.by, Array(1)))
    }
    val g = new Graph(ArrayBuffer(dedup.values.toSeq: _*))
    if (g.nE == 0) return Seq.empty
    val (cid, cycs) = g.cycles(_ => true)
    val all = new Array[Boolean](2 * g.nE)
    java.util.Arrays.fill(all, true)
    val back = (ix: Long, iy: Long) => (ix / 2.0 / scale + minX, iy / 2.0 / scale + minY)
    emit(g, cycs, cid, all, back)
  }

  /** Repair an invalid areal geometry (bowties, crossing or wrongly
    * oriented rings, holes outside shells, overlapping multipolygon
    * members) into a valid (multi)polygon over the snap-rounded
    * arrangement. Two methods, matching GEOS MakeValid (the engine behind
    * OGR validity — this reference snapshot exposes IsValid,
    * `ogr/ogrgeometry.cpp:1905`, but predates OGR_G_MakeValid; semantics
    * here follow the GEOS/PostGIS contract its later versions adopt):
    *
    *  - `structure = false` (LINEWORK, the GEOS default): every ring is
    *    undirected linework; a face is kept iff it is covered by an ODD
    *    number of rings (with ±1 ring weights, winding parity ≡ crossing
    *    parity, so the even-odd rule needs no orientation normalization).
    *  - `structure = true` (STRUCTURE): shells are normalized CCW (+1),
    *    holes CW (−1), and a face is kept iff its winding is nonzero —
    *    overlapping members union instead of cancelling.
    *
    * Non-areal geometries are returned as-is (point/line validity does
    * not depend on ring topology). Returns None when no face survives
    * (fully degenerate input).
    */
  def makeValid(g: Geom, structure: Boolean = false): Option[Geom] = {
    def hasArea(x: Geom): Boolean = x match {
      case _: GPolygon => true
      case m: GMulti => m.geoms.exists(hasArea)
      case _ => false
    }
    if (!hasArea(g)) return Some(g)
    val bld = new Builder(1)
    if (structure) bld.addGeomOriented(g, 0) else bld.addGeom(g, 0)
    val faces = bld.result(w => if (structure) w(0) != 0 else (w(0) & 1) != 0)
    if (faces.isEmpty) None
    else if (faces.length == 1) Some(faces.head)
    else Some(GMulti(6, faces.toArray[Geom]))
  }
}
