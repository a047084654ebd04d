package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.DriverRows
import graft.operators.UnionFind
import graft.raster.{BoundaryMerge, Polygonize, RasterStrips, Sieve, StripScan}
import graft.raster.Overview.IStrip
import graft.raster.RasterStrips.ValueStrip

/** Scale properties of the distributed strip-boundary machinery: on a WIDE
  * raster the driver must see O(#boundary components) equivalence pairs,
  * never O(width) pixel rows, and the sieve's join-based rewrite path must
  * match the broadcast path bit for bit.
  */
class BoundaryMergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Wide fixture: W = 20000, 4 strips of 2 rows. Two vertical bars (a
    * component each spanning all strips) on a background component —
    * 3 components total, all crossing every boundary.
    */
  private val W = 20000
  private val H = 8
  private def wideVals: Array[Int] = {
    val v = Array.fill(W * H)(7)
    for (r <- 0 until H; bar <- Seq(5000, 15000); x <- bar until bar + 100)
      v(r * W + x) = 9
    v
  }

  test("wide raster: driver collects O(components) pairs, not O(width) rows") {
    val vals = wideVals
    val strips = (0 until 4).map { i =>
      ValueStrip(i, i * 2, 2, java.util.Arrays.copyOfRange(vals, i * 2 * W, (i + 1) * 2 * W))
    }.toDS()
    val df = RasterStrips.polygonize(spark, strips, W, H, 4,
      graft.core.GeoTransform(0, 1, 0, 0, 0, 1))
    // bars span every row, so they cut the background into 3 slabs:
    // 2 bar components + 3 background components
    assert(df.count() === 5)
    // driver-side pair traffic: a handful of component adjacencies per
    // boundary (3 boundaries × ≤5 components), NOT ~20000 per-column pairs
    assert(BoundaryMerge.lastDriverPairs >= 3)
    assert(BoundaryMerge.lastDriverPairs < 64,
      s"driver saw ${BoundaryMerge.lastDriverPairs} pairs — boundary dedup is broken")
  }

  test("sieve join-based rewrite path matches broadcast path") {
    val W5 = 5; val H7 = 7
    val src = Array(
      107, 123, 132, 115, 132,
      115, 132, 132, 123, 123,
      115, 132, 140, 132, 123,
      148, 132, 123, 123, 123,
      156, 156, 156, 140, 132,
      156, 100, 156, 101, 102,
      156, 156, 156, 103, 103)
    val expect = Sieve.sieveLocal(src, W5, H7, 2, 4)
    val strips = (0 until H7 by 3).zipWithIndex.map { case (y0, i) =>
      val hh = math.min(3, H7 - y0)
      IStrip(i, y0, hh, W5, java.util.Arrays.copyOfRange(src, y0 * W5, (y0 + hh) * W5))
    }.toDS()
    // the fixture's 3 boundary pairs fit under a driver row limit of 6 and
    // its 12 rewrites do not: driver union-find, shuffle-join rewrite
    val (got, events) = logged(DriverRowLimit(6L) {
      Sieve.sieve(spark, strips, W5, H7, 2, 4).collect().sortBy(_.yOff).flatMap(_.vals)
    })
    assert(events.contains("merge: 3 strips, driver mode, 3 boundary pairs"), events)
    assert(events.exists(_.contains("; shuffle-join rewrite of ")), events)
    assert(got.toSeq === expect.toSeq)
  }

  /** Force the distributed union-find (conf limit 0) and compare against
    * the driver path bit for bit on a salt-and-pepper wide fixture —
    * 1-px vertical stripes make EVERY column a seam-crossing component
    * (w/2 pairs per seam, the documented driver-OOM shape at scale).
    */
  test("distributed union-find path: polygonize matches driver path, driver sees 0 pairs") {
    val Wd = 3000; val Hd = 8
    val vals = Array.tabulate(Wd * Hd)((i: Int) => (i % Wd) % 2)
    def strips() = (0 until 4).map { i =>
      ValueStrip(i, i * 2, 2, java.util.Arrays.copyOfRange(vals, i * 2 * Wd, (i + 1) * 2 * Wd))
    }.toDS()
    val gt = graft.core.GeoTransform(0, 1, 0, 0, 0, 1)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Int, String)] =
      df.collect().map(r => (r.getInt(0),
        r.getAs[Array[Byte]](1).map("%02x".format(_)).mkString)).toSeq.sorted
    // 1-px stripes of alternating values touch no equal diagonal
    // neighbour, so 8-connectedness gives the same components
    for (conn <- Seq(4, 8)) {
      val (viaDriver, driverLog) =
        logged(canon(RasterStrips.polygonize(spark, strips(), Wd, Hd, conn, gt)))
      assert(BoundaryMerge.lastDriverPairs === 3L * Wd) // one pair per column per seam
      assert(driverLog.contains(s"merge: 4 strips, driver mode, ${3 * Wd} boundary pairs"),
        driverLog)
      spark.conf.set(DriverRows.LimitKey, "0")
      try {
        val (viaDist, distLog) =
          logged(canon(RasterStrips.polygonize(spark, strips(), Wd, Hd, conn, gt)))
        assert(BoundaryMerge.lastDriverPairs === 0L,
          "distributed path must not collect pairs to the driver")
        assert(distLog.contains("merge: 4 strips, distributed mode"), distLog)
        assert(viaDist.length === Wd) // every column its own component
        assert(viaDist === viaDriver, s"conn=$conn")
      } finally spark.conf.unset(DriverRows.LimitKey)
    }
  }

  test("distributed union-find path: sieve matches serial, both rewrite paths") {
    val Wd = 500; val Hd = 9
    // stripes of width 1 (size 9 each) + a few 2-wide stripes (size 18)
    val vals = Array.tabulate(Wd * Hd) { (i: Int) =>
      val x = i % Wd
      if (x % 10 < 2) 7 else x % 10
    }
    // 900 boundary pairs and 400 rewrites: a driver row limit of 0 takes
    // both distributed, one of 600 takes only the union-find distributed
    for (conn <- Seq(4, 8); limit <- Seq(0L, 600L)) {
      val expect = Sieve.sieveLocal(vals, Wd, Hd, 10, conn)
      val strips = (0 until 3).map { i =>
        IStrip(i, i * 3, 3, Wd, java.util.Arrays.copyOfRange(vals, i * 3 * Wd, (i + 1) * 3 * Wd))
      }.toDS()
      val (got, events) = logged(DriverRowLimit(limit) {
        Sieve.sieve(spark, strips, Wd, Hd, 10, conn).collect().sortBy(_.yOff).flatMap(_.vals)
      })
      assert(BoundaryMerge.lastDriverPairs === 0L)
      assert(events.contains("merge: 3 strips, distributed mode"), events)
      val rewrite = if (limit == 0L) "shuffle-join" else "broadcast"
      assert(events.exists(m => m.startsWith("sieve: pointer doubling took ") &&
        m.contains(s"; $rewrite rewrite of ")), events)
      assert(got.toSeq === expect.toSeq, s"conn=$conn driverRowLimit=$limit")
    }
  }

  /** One row of regions of sizes 1..L with distinct values, then one of
    * size L + 1; at threshold L + 1 each small region's biggest neighbour
    * is the next one, a pointer chain of length L that only the big region
    * resolves. Pointer doubling must resolve it in ⌈log2 L⌉ rounds.
    */
  test("sieve resolves a length-40 pointer chain in ⌈log2 40⌉ rounds") {
    val L = 40
    val vals = ((1 to L).flatMap(i => Seq.fill(i)(i)) ++ Seq.fill(L + 1)(L + 1)).toArray
    val w = vals.length
    val expect = Sieve.sieveLocal(vals, w, 1, L + 1, 4)
    val (got, events) = logged(
      Sieve.sieve(spark, Seq(IStrip(0, 0, 1, w, vals)).toDS(), w, 1, L + 1, 4)
        .collect().flatMap(_.vals))
    assert(got.toSeq === expect.toSeq)
    val rounds = events.collectFirst {
      case m if m.startsWith("sieve: pointer doubling took ") =>
        m.stripPrefix("sieve: pointer doubling took ").takeWhile(_.isDigit).toInt
    }
    assert(rounds.exists(r => r >= 1 && r <= 6), events) // ⌈log2 40⌉ = 6
    assert(events.exists(_.contains("rounds and stopped resolved")), events)
  }

  /** Run `body` with the BoundaryMerge and Sieve loggers at INFO and return
    * its result with the messages they logged meanwhile.
    */
  private def logged[T](body: => T): (T, Seq[String]) =
    LogCapture.logged("graft.raster.BoundaryMerge", "graft.raster.Sieve")(body)

  /** Serial reference for the union-find contract over ids in [0, n):
    * gid → component minimum, for every gid that is not its own minimum.
    */
  private def serialRoots(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val ra = find(a.toInt); val rb = find(b.toInt)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(v => v.toLong -> find(v).toLong)
      .filter(t => t._1 != t._2).toMap
  }

  test("UnionFind.roots matches a serial union-find on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 400
    val edges = (0 until 600).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val expect = serialRoots(n, edges)
    val got = graft.operators.UnionFind.roots(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(UnionFind.driverRoots(edges) === expect)
  }

  test("UnionFind.driverRoots matches a serial union-find on seeded small pair sets") {
    // iterating the parent map while find() compresses into it skipped 6 of
    // these 11 roots: an update of an existing key can resize the table
    val pinned = Seq((4, 1), (20, 26), (21, 19), (11, 14), (25, 16), (7, 14),
      (20, 22), (15, 22), (0, 13), (26, 23), (11, 24)).map { case (a, b) => (a.toLong, b.toLong) }
    assert(UnionFind.driverRoots(pinned) === serialRoots(27, pinned))
    val rnd = new scala.util.Random(5)
    for (k <- 0 until 3000) {
      val n = 2 + rnd.nextInt(40)
      val pairs = Seq.fill(1 + rnd.nextInt(24))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(UnionFind.driverRoots(pairs) === serialRoots(n, pairs), s"set $k: $pairs")
    }
  }

  test("UnionFind.roots on a shuffled-id 100x100 grid converges under the default cap") {
    // random ids defeat id-order luck: plain min-label propagation with
    // pointer doubling needs ~80 rounds here, hooking p(a) needs ~7
    val side = 100
    val ids = new scala.util.Random(11).shuffle((0L until side * side).toVector)
    val edges = for (y <- 0 until side; x <- 0 until side;
                     (dx, dy) <- Seq((1, 0), (0, 1)) if x + dx < side && y + dy < side)
      yield (ids(y * side + x), ids((y + dy) * side + x + dx))
    val got = UnionFind.roots(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L until side * side).map(_ -> 0L).toMap) // serial answer
  }

  test("UnionFind.roots on empty and self-loop-only edges is empty") {
    assert(graft.operators.UnionFind.roots(
      Seq.empty[(Long, Long)].toDF("a", "b")).count() === 0)
    assert(graft.operators.UnionFind.roots(
      Seq((5L, 5L), (9L, 9L)).toDF("a", "b")).count() === 0)
  }

  test("UnionFind.roots resolves a long path in logarithmic rounds") {
    // path 0-1-2-...-299: diameter 299; maxRounds 64 would fail if the
    // pointer doubling were not compounding with propagation
    val edges = (0 until 299).map(i => (i.toLong, (i + 1).toLong))
    val got = graft.operators.UnionFind.roots(edges.toDF("a", "b"), maxRounds = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1 to 299).map(v => v.toLong -> 0L).toMap)
  }

  test("StripScan prefix/suffix matches a serial scan") {
    val w = 1000
    val n = 7
    val rnd = new scala.util.Random(42)
    val payload = Array.tabulate(n, w) { (_, _) =>
      if (rnd.nextDouble() < 0.3) rnd.nextInt(1 << 20).toLong else StripScan.Absent
    }
    val strips = (0 until n).map(i => (i, payload(i))).toDS()
    val got = StripScan.scan(strips, w, StripScan.Latest)(_._1, s => StripScan.StripCols(s._2, s._2))
      .collect().sortBy(_._1._1).map(_._2)
    assert(got.length === n)
    // serial reference
    val run = Array.fill(w)(StripScan.Absent)
    for (k <- 0 until n) {
      assert(got(k).above.toSeq === run.toSeq, s"above strip $k")
      for (x <- 0 until w) if (payload(k)(x) != StripScan.Absent) run(x) = payload(k)(x)
    }
    java.util.Arrays.fill(run, StripScan.Absent)
    for (k <- n - 1 to 0 by -1) {
      assert(got(k).below.toSeq === run.toSeq, s"below strip $k")
      for (x <- 0 until w) if (payload(k)(x) != StripScan.Absent) run(x) = payload(k)(x)
    }
  }

  test("StripScan capped sum matches a serial saturating count") {
    val w = 300
    val n = 9
    val cap = 5L
    val rnd = new scala.util.Random(7)
    val counts = Array.tabulate(n, w)((_, _) => rnd.nextInt(3).toLong)
    val strips = (0 until n).map(i => (i, counts(i))).toDS()
    val got = StripScan.scan(strips, w, StripScan.CappedSum(cap))(_._1, s => StripScan.StripCols(s._2, s._2))
      .collect().sortBy(_._1._1).map(_._2)
    val run = new Array[Long](w)
    for (k <- 0 until n) {
      assert(got(k).above.toSeq === run.toSeq, s"above strip $k")
      for (x <- 0 until w) run(x) = math.min(cap, run(x) + counts(k)(x))
    }
    java.util.Arrays.fill(run, 0L)
    for (k <- n - 1 to 0 by -1) {
      assert(got(k).below.toSeq === run.toSeq, s"below strip $k")
      for (x <- 0 until w) run(x) = math.min(cap, run(x) + counts(k)(x))
    }
  }
}
