package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Geom, GeoTransform}
import graft.raster.Polygonize

/** Fixture parity with `/root/reference/autotest/alg/polygonize.py`
  * (grid `autotest/alg/data/polygonize_in.grd`, 5×7, nodata 132).
  */
class PolygonizeSpec extends AnyFunSuite {

  private val W = 5
  private val H = 7
  private val grid = Array(
    107, 123, 132, 115, 132,
    115, 132, 132, 123, 123,
    115, 132, 140, 132, 123,
    148, 132, 123, 123, 123,
    156, 156, 156, 140, 132,
    156, 100, 156, 101, 102,
    156, 156, 156, 103, 103)
  private val gt = GeoTransform(440720, 60, 0, 3751440, 0, -60)

  private def masked: Array[Int] =
    grid.map(v => if (v == 132) Polygonize.NoDataMarker else v)

  test("polygonize_1: 13 features with expected DN order and DN=156 hole WKT") {
    val res = Polygonize.polygonize(masked, W, H, 4, gt)
    assert(res.map(_._1) ===
      Vector(107, 123, 115, 115, 140, 148, 123, 140, 156, 100, 101, 102, 103))
    val p156 = res.find(_._1 == 156).get._2
    assert(Geom.toWkt(p156) ===
      "POLYGON ((440720 3751200,440720 3751020,440900 3751020,440900 3751200,440720 3751200),(440780 3751140,440840 3751140,440840 3751080,440780 3751080,440780 3751140))")
  }

  test("polygonize_2: 17 features without masking") {
    val res = Polygonize.polygonize(grid, W, H, 4, gt)
    assert(res.map(_._1) ===
      Vector(107, 123, 115, 132, 115, 132, 140, 132, 148, 123, 140, 132, 156,
             100, 101, 102, 103))
  }

  test("polygonize_4: 16 features 8-connected") {
    val res = Polygonize.polygonize(grid, W, H, 8, gt)
    assert(res.map(_._1) ===
      Vector(107, 123, 132, 115, 132, 115, 140, 148, 123, 140, 132, 156,
             100, 101, 102, 103))
  }

  /** The sequential kernel's two-enumerator labelling: pass-1 raw ids
    * mapped through `completeMerges`, then pass-2 raw ids mapped through
    * the pass-1 map.
    */
  private def twoPass(vals: Array[Int], w: Int, h: Int, conn: Int): (Array[Int], Int, Seq[Int]) = {
    val first = new Polygonize.Enumerator(conn)
    def run(en: Polygonize.Enumerator): Array[Int] = {
      val out = new Array[Int](w * h)
      var lastId = new Array[Int](w); var thisId = new Array[Int](w)
      var lastRow: Array[Int] = null
      for (y <- 0 until h) {
        val row = java.util.Arrays.copyOfRange(vals, y * w, (y + 1) * w)
        en.processLine(lastRow, row, lastId, thisId, 0, 0, w)
        System.arraycopy(thisId, 0, out, y * w, w)
        val t = lastId; lastId = thisId; thisId = t
        lastRow = row
      }
      out
    }
    run(first)
    first.completeMerges()
    val raw2 = run(new Polygonize.Enumerator(conn))
    (raw2.map(id => if (id == -1) -1 else first.polyIdMap(id)), first.nNextPolygonId,
      first.polyValue.take(first.nNextPolygonId).toSeq)
  }

  test("label equals the two-enumerator labelling on seeded random strips") {
    val rnd = new scala.util.Random(17)
    for (k <- 0 until 400; conn <- Seq(4, 8)) {
      val w = 1 + rnd.nextInt(12); val h = 1 + rnd.nextInt(12)
      val nValues = 1 + rnd.nextInt(4)
      val vals = Array.fill(w * h)(
        if (rnd.nextDouble() < 0.05) Polygonize.NoDataMarker else rnd.nextInt(nValues))
      val (ids, nIds, values) = twoPass(vals, w, h, conn)
      val got = Polygonize.label(vals, w, h, conn)
      val what = s"strip $k ${w}x$h conn=$conn"
      assert(got.ids.toSeq === ids.toSeq, what)
      assert(got.nIds === nIds, what)
      assert(got.values.toSeq === values, what)
      assert((0 until w * h).forall(p => got.value(p) == vals(p)), what)
    }
    for (conn <- Seq(4, 8)) {
      val empty = Polygonize.label(Array.fill(6)(Polygonize.NoDataMarker), 3, 2, conn)
      assert(empty.nIds === 0)
      assert(empty.ids.toSeq === Seq.fill(6)(-1))
    }
  }
}
