package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Geom

/** Catalyst expressions for the spatial slice. Hot predicates generate
  * straight-line Java calling GeoRt statics (whole-stage-codegen friendly);
  * cold constructors fall back to interpreted eval.
  *
  * These re-express the reference's geometry methods
  * (`/root/reference/gdal/ogr/ogrgeometry.cpp`, `ogrcurvepolygon.cpp:680`,
  * `ogrlinearring.cpp:575`) as Spark expressions over WKB BinaryType.
  */
object exprs {
  // marker object to group the expression classes; see companion file gf.scala
}

/** st_contains(polyWkb, x, y) — ray-cast interior test. */
case class StContainsPoint(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(p: Any, x: Any, y: Any): Any =
    GeoRt.containsPoint(p.asInstanceOf[Array[Byte]], x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, x, y) => s"graft.expr.GeoRt.containsPoint($p, $x, $y)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "st_contains_point"
}

/** st_intersects_point(geomWkb, x, y) — boundary-inclusive. */
case class StIntersectsPoint(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(p: Any, x: Any, y: Any): Any =
    GeoRt.intersectsPoint(p.asInstanceOf[Array[Byte]], x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, x, y) => s"graft.expr.GeoRt.intersectsPoint($p, $x, $y)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "st_intersects_point"
}

case class StIntersects(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeoRt.intersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.GeoRt.intersects($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_intersects"
}

case class StContains(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeoRt.contains(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.GeoRt.contains($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_contains"
}

case class StDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeoRt.distance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.GeoRt.distance($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_distance"
}

/** st_dwithin(a, b, d) -> boolean — distance-within predicate (the
  * standard cheap post-filter after a cell-bucketed candidate join).
  */
case class StDWithin(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, d: Any): Any =
    GeoRt.dwithin(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, d) => s"graft.expr.GeoRt.dwithin($a, $b, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "st_dwithin"
}

/** st_distance_sphere(lon1, lat1, lon2, lat2) -> meters (haversine on the
  * WGS84 mean sphere) — the metric kNN callers want when coordinates are
  * degrees.
  */
case class StDistanceSphere(first: Expression, second: Expression,
                            third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoRt.haversineMeters(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.expr.GeoRt.haversineMeters($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "st_distance_sphere"
}

/** cell_parent(cell) -> the enclosing cell one resolution up. */
case class CellParent(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any): Any =
    GeoRt.cellParent(c.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.GeoRt.cellParent($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "cell_parent"
}

case class StPoint(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(x: Any, y: Any): Any =
    GeoRt.point(x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.expr.GeoRt.point($x, $y)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_point"
}

case class StGeomFromText(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(s: Any): Any =
    GeoFn.geomFromText(s.asInstanceOf[UTF8String]) // same static as codegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.GeoFn.geomFromText($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_geomfromtext"
}

case class StAsText(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    GeoFn.asText(b.asInstanceOf[Array[Byte]]) // same static as codegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.GeoFn.asText($b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_astext"
}

// explicitly Serializable: Spark's UnaryExpression is not itself
// Serializable (leaf case classes synthesize it), so without this an
// intermediate class breaks Java serialization of any plan that ships
// these expressions inside an aggregate ("no valid constructor")
abstract class UnaryGeomDouble(fn: String) extends UnaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.GeoRt.$fn($b)")
}

case class StArea(child: Expression) extends UnaryGeomDouble("area") {
  override protected def nullSafeEval(b: Any): Any = GeoRt.area(b.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_area"
}

case class StLength(child: Expression) extends UnaryGeomDouble("length") {
  override protected def nullSafeEval(b: Any): Any = GeoRt.length(b.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_length"
}

case class StX(child: Expression) extends UnaryGeomDouble("x") {
  override protected def nullSafeEval(b: Any): Any = GeoRt.x(b.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_x"
}

case class StY(child: Expression) extends UnaryGeomDouble("y") {
  override protected def nullSafeEval(b: Any): Any = GeoRt.y(b.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_y"
}

case class StGeometryType(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    UTF8String.fromString(GeoRt.geometryType(b.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.GeoFn.geometryType($b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_geometrytype"
}

/** st_envelope(wkb) -> struct<minx,miny,maxx,maxy> */
case class StEnvelope(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override val dataType: DataType = StructType(Seq(
    StructField("minx", DoubleType, nullable = false),
    StructField("miny", DoubleType, nullable = false),
    StructField("maxx", DoubleType, nullable = false),
    StructField("maxy", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any): Any = {
    val e = GeoRt.decode(b.asInstanceOf[Array[Byte]]).envelope
    InternalRow(e.minX, e.minY, e.maxX, e.maxY)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_envelope"
}

case class StTransform(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any, s: Any, d: Any): Any =
    GeoRt.transform(b.asInstanceOf[Array[Byte]], s.asInstanceOf[Int], d.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, s, d) => s"graft.expr.GeoRt.transform($b, $s, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "st_transform"
}

/** st_transform_srs(wkb, src_srs, dst_srs) — SRS defs as strings (PROJ.4,
  * WKT1, or "EPSG:n"), parsed once and cached by [[GeoRt.transformSrs]].
  */
case class StTransformSrs(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any, s: Any, d: Any): Any =
    GeoRt.transformSrs(b.asInstanceOf[Array[Byte]], s.toString, d.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, s, d) =>
      s"graft.expr.GeoRt.transformSrs($b, $s.toString(), $d.toString())")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "st_transform_srs"
}

/** cell_of(lon, lat, res) — the H3/S2-style cell id (batched, codegen'd:
  * the north rule's "H3/S2-encoded via a batched codegen'd expression").
  */
case class CellOf(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(lon: Any, lat: Any, res: Any): Any =
    GeoRt.cellOf(lon.asInstanceOf[Double], lat.asInstanceOf[Double], res.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, res) => s"graft.expr.GeoRt.cellOf($lon, $lat, $res)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "cell_of"
}

/** cells_covering(wkb, res) -> array<long>: polyfill for the polygon side
  * of the cell-bucketed join.
  */
case class CellsCovering(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any, r: Any): Any =
    new GenericArrayData(GeoRt.cellsCovering(b.asInstanceOf[Array[Byte]], r.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "cells_covering"
}

/** geo_extract(text) -> array<struct<lat,lon>> — deterministic coordinate
  * mention parser (the offline analogue of the reference's geocoder,
  * `gdal/ogr/ogr_geocoding.cpp:1379` OGRGeocode; no network, pure grammar).
  * Never modifies its input (per-row invariant: `text` stays byte-identical).
  *
  * Grammar (case-sensitive), with NUM = `[-+]?\d{1,3}(?:\.\d+)?`,
  * `\d` = `[0-9]` and `\s` = `[ \t\n\x0B\f\r]`:
  *   1. `NUM[NS]\s+NUM[EW]`      e.g. "48.8584N 2.2945E"
  *   2. `lat=NUM\s+lon=NUM`      e.g. "lat=-12.5 lon=130.85"
  *   3. `geo:NUM,NUM`            e.g. "geo:37.786971,-122.399677"
  */
case class GeoExtract(child: Expression)
    extends UnaryExpression {
  override val dataType: DataType = ArrayType(StructType(Seq(
    StructField("lat", DoubleType, nullable = false),
    StructField("lon", DoubleType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(s: Any): Any =
    GeoExtract.extractArrayData(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.expr.GeoExtract.extractArrayData($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "geo_extract"
}

/** One hand-written matcher per grammar form, each scanning the text the
  * way `java.util.regex.Matcher.find` scans for that form's pattern: it
  * takes the leftmost match start; after any match, including one the
  * boundary guards reject, it resumes at that match's end, otherwise at
  * start + 1. Every piece matches greedily and never backtracks, which
  * finds the same matches as the pattern: each greedy piece (`[-+]?`,
  * `\d{1,3}`, `(?:\.\d+)?`, `\s+`) is followed by a piece that rejects
  * everything a backtrack could hand it (a digit, a `.` or whitespace),
  * and a form's last NUM has no follow piece, so its longest match is the
  * match. GeoExtractSpec checks this against the patterns.
  *
  * Mentions are emitted form 1's matches first, then form 2's, then form
  * 3's, each left to right (`mention_idx`, and through it the flagship's
  * partition ids and lineage checksums, depend on this order). A match is
  * kept when the guards pass and the coordinates are in range.
  */
object GeoExtract {
  // Boundary guards: a match must not start inside a longer number/word
  // ("id 1085.5N" must not yield 85.5N; "splat=1" must not yield lat=1)
  // and a hemisphere letter must end a token ("12.5N 3Eat" is prose).
  @inline private def okBefore(s: String, start: Int): Boolean = {
    if (start == 0) true
    else {
      val c = s.charAt(start - 1)
      !(Character.isLetterOrDigit(c) || c == '.')
    }
  }
  @inline private def okAfter(s: String, end: Int): Boolean =
    end >= s.length || !Character.isLetterOrDigit(s.charAt(end))

  @inline private def isDigit(s: String, i: Int): Boolean =
    i < s.length && { val c = s.charAt(i); c >= '0' && c <= '9' }
  @inline private def isSpace(s: String, i: Int): Boolean =
    i < s.length && { val c = s.charAt(i); c == ' ' || (c >= '\t' && c <= '\r') }
  @inline private def isNumChar(c: Char): Boolean =
    (c >= '0' && c <= '9') || c == '.' || c == '-' || c == '+'
  @inline private def isChar(s: String, i: Int, a: Char, b: Char): Boolean =
    i < s.length && { val c = s.charAt(i); c == a || c == b }

  /** End of the NUM that starts at `i`, or -1. */
  private def num(s: String, i: Int): Int = {
    var j = if (isChar(s, i, '-', '+')) i + 1 else i
    val d = j
    while (j - d < 3 && isDigit(s, j)) j += 1
    if (j == d) -1
    else if (s.length > j && s.charAt(j) == '.' && isDigit(s, j + 1)) {
      j += 2
      while (isDigit(s, j)) j += 1
      j
    } else j
  }

  /** End of the `\s+` run that starts at `i`, or -1. */
  private def spaces(s: String, i: Int): Int = {
    var j = i
    while (isSpace(s, j)) j += 1
    if (j == i) -1 else j
  }

  private def parse(s: String, from: Int, to: Int): Double =
    java.lang.Double.parseDouble(s.substring(from, to))

  /** Codegen entry: UTF8String in, Catalyst ArrayData of (lat,lon) out. */
  def extractArrayData(text: UTF8String): GenericArrayData = {
    val s = text.toString
    val buf = new scala.collection.mutable.ArrayBuffer[Any](2)
    def emit(lat: Double, lon: Double): Unit =
      if (lat >= -90 && lat <= 90 && lon >= -180 && lon <= 180) buf += InternalRow(lat, lon)

    // form 1: NUM[NS]\s+NUM[EW]. A NUM holds no letter, so the N/S of a
    // match starting at i is the first letter after i, and i lies in the
    // run of NUM chars right before it. Walk the N/S letters left to right
    // (indexOf), and take the leftmost start in the letter's run whose NUM
    // ends at the letter: the first letter that has one gives the leftmost
    // match. The run never reaches into an earlier match, which ends with
    // its E/W letter.
    var atN = s.indexOf('N')
    var atS = s.indexOf('S')
    while (atN >= 0 || atS >= 0) {
      val k = if (atS < 0 || (atN >= 0 && atN < atS)) atN else atS
      val b = spaces(s, k + 1)
      val c = if (b >= 0) num(s, b) else -1
      var i = k
      if (c >= 0 && isChar(s, c, 'E', 'W')) { // s(c) is E/W
        while (i > 0 && isNumChar(s.charAt(i - 1))) i -= 1
        while (i < k && num(s, i) != k) i += 1
      }
      val next = if (i < k) {
        if (okBefore(s, i) && okAfter(s, k + 1) && okAfter(s, c + 1)) {
          // hemisphere letters denote the sign of the MAGNITUDE: "-12.5S"
          // must stay south, not double-negate to +12.5
          emit(math.abs(parse(s, i, k)) * (if (s.charAt(k) == 'S') -1 else 1),
            math.abs(parse(s, b, c)) * (if (s.charAt(c) == 'W') -1 else 1))
        }
        c + 1
      } else k + 1
      if (atN >= 0 && atN < next) atN = s.indexOf('N', next)
      if (atS >= 0 && atS < next) atS = s.indexOf('S', next)
    }
    // form 2: lat=NUM\s+lon=NUM
    var j = s.indexOf("lat=")
    while (j >= 0) {
      val a = num(s, j + 4)
      val b = if (a >= 0) spaces(s, a) else -1
      val c = if (b >= 0 && s.startsWith("lon=", b)) num(s, b + 4) else -1
      if (c >= 0) {
        if (okBefore(s, j)) emit(parse(s, j + 4, a), parse(s, b + 4, c))
        j = s.indexOf("lat=", c)
      } else j = s.indexOf("lat=", j + 1)
    }
    // form 3: geo:NUM,NUM
    j = s.indexOf("geo:")
    while (j >= 0) {
      val a = num(s, j + 4)
      val c = if (a >= 0 && s.startsWith(",", a)) num(s, a + 1) else -1
      if (c >= 0) {
        if (okBefore(s, j)) emit(parse(s, j + 4, a), parse(s, a + 1, c))
        j = s.indexOf("geo:", c)
      } else j = s.indexOf("geo:", j + 1)
    }
    new GenericArrayData(buf.toArray)
  }

  /** Scala-side variant used by tests. */
  def extract(text: String): Array[(Double, Double)] = {
    val ad = extractArrayData(UTF8String.fromString(text))
    (0 until ad.numElements()).map { i =>
      val r = ad.getStruct(i, 2)
      (r.getDouble(0), r.getDouble(1))
    }.toArray
  }
}

/** Boolean overlay runtime over WKB, multipolygon-aware. op: 0 =
  * intersection, 1 = union, 2 = difference, 3 = symdifference. Returns
  * null for the empty result (the relational convention here; the
  * reference returns an empty geometry object).
  */
object OverlayRt {
  import graft.core.GMulti

  private def wrap(pieces: Seq[Geom]): Array[Byte] = pieces match {
    case Seq() => null
    case Seq(one) => Geom.toWkb(one)
    case many => Geom.toWkb(GMulti(6, many.toArray))
  }

  /** Boolean overlay through the snap-rounded arrangement
    * ([[graft.core.Arrangement.overlay2]]): exact for multi-piece inputs,
    * inputs WITH interior rings, and results that need hole rings
    * (crossing concave polygons).
    */
  def overlay(a: Array[Byte], b: Array[Byte], op: Int): Array[Byte] =
    wrap(graft.core.Arrangement.overlay2(GeoRt.decode(a), GeoRt.decode(b), op))
}

/** st_intersection / st_union / st_difference / st_symdifference
  * (wkb, wkb) -> wkb; null = empty result.
  */
case class StOverlay(left: Expression, right: Expression, op: Int)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    OverlayRt.overlay(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], op)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""byte[] ${ev.value}Tmp = graft.expr.OverlayRt.overlay($a, $b, $op);
         |if (${ev.value}Tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Tmp; }""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = op match {
    case 0 => "st_intersection"; case 1 => "st_union"
    case 2 => "st_difference"; case _ => "st_symdifference"
  }
}

/** Geometry type casts (`gdal/ogr/ogrgeometryfactory.cpp:553,:669`
  * forceToPolygon / forceToMultiPolygon): forceToPolygon aggregates the
  * rings of ALL polygon parts of a multi/collection into ONE polygon
  * (`:596-626` steals exterior+interior rings of every part) and turns a
  * closed ≥3-point line into a polygon (`:570-588`); forceToMultiPolygon
  * wraps a polygon and promotes an all-polygon GeometryCollection
  * (`:699-734`). Non-convertible inputs pass through UNCHANGED — the
  * reference never returns null for a non-null geometry.
  */
object ForceRt {
  import graft.core.{GLine, GMulti, GPolygon}
  def toPolygon(wkb: Array[Byte]): Array[Byte] = {
    val out: Geom = GeoRt.decode(wkb) match {
      case l: GLine if l.numPoints >= 3 && l.isClosed => GPolygon(Array(l))
      case GMulti(6 | 7, gs) =>
        GPolygon(gs.iterator.collect { case p: GPolygon => p.rings }
          .flatten.toArray)
      case other => other
    }
    Geom.toWkb(out)
  }
  def toMultiPolygon(wkb: Array[Byte]): Array[Byte] = {
    val out: Geom = GeoRt.decode(wkb) match {
      case m @ GMulti(6, _) => m
      case GMulti(7, gs) if gs.forall(_.isInstanceOf[GPolygon]) =>
        GMulti(6, gs)
      case p: GPolygon => GMulti(6, Array[Geom](p))
      case other => other
    }
    Geom.toWkb(out)
  }
}

/** st_force_polygon(wkb) / st_force_multipolygon(wkb). */
case class StForce(child: Expression, toMulti: Boolean) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    if (toMulti) ForceRt.toMultiPolygon(b.asInstanceOf[Array[Byte]])
    else ForceRt.toPolygon(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val fn = if (toMulti) "toMultiPolygon" else "toPolygon"
      s"""byte[] ${ev.value}Tmp = graft.expr.ForceRt.$fn($b);
         |if (${ev.value}Tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Tmp; }""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = if (toMulti) "st_force_multipolygon" else "st_force_polygon"
}

/** Unary constructive ops sharing one runtime dispatch. kind: 0 =
  * st_boundary, 1 = st_delaunay, 2 = st_pointonsurface. Null = empty.
  */
object GeomMiscRt {
  def eval(wkb: Array[Byte], kind: Int): Array[Byte] = {
    val g = GeoRt.decode(wkb)
    val r = kind match {
      case 0 => graft.core.GeomBuild.boundary(g)
      case 1 => graft.core.GeomBuild.delaunayTriangulation(g)
      case 2 => graft.core.GeomBuild.pointOnSurface(g)
      case _ => None
    }
    r.map(Geom.toWkb).orNull
  }
}

case class StGeomMisc(child: Expression, kind: Int) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    GeomMiscRt.eval(b.asInstanceOf[Array[Byte]], kind)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""byte[] ${ev.value}Tmp = graft.expr.GeomMiscRt.eval($b, $kind);
         |if (${ev.value}Tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Tmp; }""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = kind match {
    case 0 => "st_boundary"; case 1 => "st_delaunay"; case _ => "st_pointonsurface"
  }
}

/** st_buffer(wkb, dist) -> wkb: a point becomes a GEOS-style 32-gon
  * (quadSegs = 8); lines and polygons, concave or holed, buffer exactly
  * through [[graft.core.Arrangement.buffer]] (see GeomBuild.buffer).
  */
case class StBuffer(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any, d: Any): Any =
    GeoFn.buffer(b.asInstanceOf[Array[Byte]], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, d) => s"graft.expr.GeoFn.buffer($b, $d)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_buffer"
}

/** Curve runtime shims. The curve WKT is usually a broadcast constant
  * (lit column), so a per-thread single-slot memo avoids re-parsing the
  * string on every row of a codegen'd filter — the same idea as
  * GeoRt.decode's per-thread WKB cache.
  */
object CurveRt {
  private val memo = new ThreadLocal[Array[AnyRef]] {
    override def initialValue(): Array[AnyRef] = new Array[AnyRef](2)
  }
  private def parsed(wkt: UTF8String): graft.core.Curves.CurveGeom = {
    val m = memo.get()
    val s = wkt.toString
    if (!(s == m(0))) {
      m(1) = graft.core.Curves.fromWkt(s)
      m(0) = s
    }
    m(1).asInstanceOf[graft.core.Curves.CurveGeom]
  }
  def toLine(wkt: UTF8String, stepDeg: Double): Array[Byte] =
    Geom.toWkb(graft.core.Curves.linearize(parsed(wkt), stepDeg))
  def containsPoint(wkt: UTF8String, x: Double, y: Double, stepDeg: Double): Boolean =
    graft.core.Curves.containsPoint(parsed(wkt), x, y, stepDeg)
}

/** st_curvetoline(curveWkt, maxStepDeg) -> wkb (getLinearGeometry). */
case class StCurveToLine(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(w: Any, s: Any): Any =
    CurveRt.toLine(w.asInstanceOf[UTF8String], s.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, s) => s"graft.expr.CurveRt.toLine($w, $s)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_curvetoline"
}

/** st_curve_contains_point(curveWkt, x, y, stepDeg) — exact for single
  * full circles (no discretization), stroked ray-cast otherwise.
  */
case class StCurveContainsPoint(first: Expression, second: Expression,
                                third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(w: Any, x: Any, y: Any, s: Any): Any =
    CurveRt.containsPoint(w.asInstanceOf[UTF8String], x.asInstanceOf[Double],
      y.asInstanceOf[Double], s.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, x, y, s) =>
      s"graft.expr.CurveRt.containsPoint($w, $x, $y, $s)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "st_curve_contains_point"
}

/** st_convexhull(wkb) -> wkb */
case class StConvexHull(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    GeoFn.convexHull(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.GeoFn.convexHull($b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_convexhull"
}

/** st_simplify(wkb, tolerance) -> wkb (Douglas-Peucker) */
case class StSimplify(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any, t: Any): Any =
    GeoFn.simplify(b.asInstanceOf[Array[Byte]], t.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, t) => s"graft.expr.GeoFn.simplify($b, $t)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_simplify"
}

/** st_segmentize(wkb, maxLength) -> wkb */
case class StSegmentize(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any, t: Any): Any =
    Geom.toWkb(GeoFn.segmentizeGeom(
      GeoRt.decode(b.asInstanceOf[Array[Byte]]), t.asInstanceOf[Double]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, t) => s"graft.expr.GeoFn.segmentize($b, $t)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_segmentize"
}

/** String-typed helpers reachable from generated code (UTF8String in/out). */
object GeoFn {
  def buffer(b: Array[Byte], d: Double): Array[Byte] =
    Geom.toWkb(graft.core.GeomBuild.buffer(GeoRt.decode(b), d))
  def convexHull(b: Array[Byte]): Array[Byte] =
    Geom.toWkb(graft.core.GeomBuild.convexHull(GeoRt.decode(b)))
  def simplify(b: Array[Byte], t: Double): Array[Byte] =
    Geom.toWkb(graft.core.GeomBuild.simplify(GeoRt.decode(b), t))
  def segmentize(b: Array[Byte], t: Double): Array[Byte] =
    Geom.toWkb(segmentizeGeom(GeoRt.decode(b), t))
  def segmentizeGeom(g: Geom, t: Double): Geom = g match {
    case l: graft.core.GLine => graft.core.GeomBuild.segmentize(l, t)
    case p: graft.core.GPolygon =>
      graft.core.GPolygon(p.rings.map(graft.core.GeomBuild.segmentize(_, t)))
    case m: graft.core.GMulti =>
      graft.core.GMulti(m.multiKind, m.geoms.map(segmentizeGeom(_, t)))
    case other => other
  }
  def geomFromText(s: UTF8String): Array[Byte] = Geom.toWkb(Geom.fromWkt(s.toString))
  def asText(b: Array[Byte]): UTF8String = UTF8String.fromString(Geom.toWkt(GeoRt.decode(b)))
  def geometryType(b: Array[Byte]): UTF8String = UTF8String.fromString(GeoRt.geometryType(b))
  def asGeoJson(b: Array[Byte]): UTF8String =
    UTF8String.fromString(graft.core.GeoJson.toJson(GeoRt.decode(b)))
  def geomFromGeoJson(s: UTF8String): Array[Byte] =
    Geom.toWkb(graft.core.GeoJson.fromJson(s.toString))
  def asGml(b: Array[Byte]): UTF8String =
    UTF8String.fromString(graft.core.Gml.toGml(GeoRt.decode(b)))
  def geomFromGml(s: UTF8String): Array[Byte] =
    Geom.toWkb(graft.core.Gml.fromGml(s.toString))
  def centroid(b: Array[Byte]): Array[Byte] = {
    val (cx, cy) = graft.core.GeomOps.centroid(GeoRt.decode(b))
    Geom.toWkb(graft.core.GPoint(cx, cy))
  }
  def numGeometries(b: Array[Byte]): Int = GeoRt.decode(b) match {
    case m: graft.core.GMulti => m.geoms.length
    case _ => 1
  }
  def simplifyPT(b: Array[Byte], t: Double): Array[Byte] =
    Geom.toWkb(graft.core.GeomBuild.simplifyPreserveTopology(GeoRt.decode(b), t))
  def makeValid(b: Array[Byte], method: UTF8String): Array[Byte] = {
    val structure = method != null && method.toString.equalsIgnoreCase("STRUCTURE")
    require(structure || method == null ||
      method.toString.equalsIgnoreCase("LINEWORK"),
      s"st_makevalid: unknown METHOD '$method' (LINEWORK or STRUCTURE)")
    graft.core.Arrangement.makeValid(GeoRt.decode(b), structure)
      .map(Geom.toWkb).orNull
  }
  def polygonize(b: Array[Byte]): Array[Byte] = {
    val lines = scala.collection.mutable.ArrayBuffer[graft.core.GLine]()
    def collect(g: Geom): Unit = g match {
      case l: graft.core.GLine => lines += l
      case p: graft.core.GPolygon => p.rings.foreach(lines += _)
      case m: graft.core.GMulti => m.geoms.foreach(collect)
      case _ => ()
    }
    collect(GeoRt.decode(b))
    val faces = graft.core.Arrangement.polygonizeLines(lines)
    if (faces.isEmpty) null
    else Geom.toWkb(graft.core.GMulti(6, faces.toArray[Geom]))
  }
}

/** st_asgeojson(wkb) -> RFC 7946 geometry JSON (compact). */
case class StAsGeoJson(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    GeoFn.asGeoJson(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.GeoFn.asGeoJson($b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_asgeojson"
}

/** st_geomfromgeojson(json) -> wkb. */
case class StGeomFromGeoJson(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(s: Any): Any =
    GeoFn.geomFromGeoJson(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.GeoFn.geomFromGeoJson($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_geomfromgeojson"
}

/** st_asgml(wkb) -> GML2 fragment (gml:coordinates). */
case class StAsGml(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    GeoFn.asGml(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.GeoFn.asGml($b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_asgml"
}

/** st_geomfromgml(gml) -> wkb (accepts GML2 coordinates and GML3 posList). */
case class StGeomFromGml(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(s: Any): Any =
    GeoFn.geomFromGml(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.GeoFn.geomFromGml($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_geomfromgml"
}

/** st_centroid(wkb) -> point wkb (area-weighted for polygons, vertex mean
  * for lines — OGRGeometry::Centroid, `ogrgeometry.cpp:2814`).
  */
case class StCentroid(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    GeoFn.centroid(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.GeoFn.centroid($b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_centroid"
}

/** st_numpoints(wkb) -> int (total vertex count, closed rings counting the
  * closing vertex, matching OGRGeometry::getNumPoints conventions).
  */
case class StNumPoints(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    GeoRt.numPoints(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.GeoRt.numPoints($b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_numpoints"
}

/** st_numgeometries(wkb) -> int (parts of a multi/collection, else 1). */
case class StNumGeometries(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    GeoFn.numGeometries(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.expr.GeoFn.numGeometries($b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_numgeometries"
}

/** st_simplify_preserve_topology(wkb, tolerance) -> wkb
  * (`ogrgeometry.cpp:4737`): like st_simplify but never produces
  * self-intersecting or collapsed rings.
  */
case class StSimplifyPT(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any, t: Any): Any =
    GeoFn.simplifyPT(b.asInstanceOf[Array[Byte]], t.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, t) => s"graft.expr.GeoFn.simplifyPT($b, $t)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_simplify_preserve_topology"
}

/** st_polygonize(wkb) -> wkb multipolygon of the bounded faces of the
  * noded input linework (`ogrgeometry.cpp:4923` Polygonize / GEOS
  * Polygonizer: dangles dropped, holes assigned). NULL when no face.
  */
case class StPolygonize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    GeoFn.polygonize(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""byte[] ${ev.value}Tmp = graft.expr.GeoFn.polygonize($b);
         |if (${ev.value}Tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Tmp; }""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_polygonize"
}

/** st_makevalid(wkb[, method]) -> wkb — repair invalid areal geometry
  * through the snap-rounded arrangement. method = 'LINEWORK' (default,
  * even-odd over ring linework) or 'STRUCTURE' (nonzero winding over
  * oriented rings). NULL when nothing survives. See
  * [[graft.core.Arrangement.makeValid]].
  */
case class StMakeValid(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override protected def nullSafeEval(b: Any, m: Any): Any =
    GeoFn.makeValid(b.asInstanceOf[Array[Byte]], m.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, m) => {
      s"""byte[] ${ev.value}Tmp = graft.expr.GeoFn.makeValid($b, $m);
         |if (${ev.value}Tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Tmp; }""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_makevalid"
}

/** OGR feature-style introspection (`ogr/ogrfeaturestyle.cpp` — the
  * OGR_SM_GetPartCount / GetPart / OGRStyleTool::GetParamStr surface).
  */
object StyleRt {
  import graft.core.OgrStyleParse
  def partCount(s: UTF8String): Int = OgrStyleParse.partCount(s.toString)
  def part(s: UTF8String, i: Int): UTF8String = {
    val r = OgrStyleParse.part(s.toString, i)
    if (r == null) null else UTF8String.fromString(r)
  }
  def toolName(s: UTF8String): UTF8String = {
    val r = OgrStyleParse.toolName(s.toString)
    if (r == null) null else UTF8String.fromString(r)
  }
  def param(s: UTF8String, k: UTF8String): UTF8String = {
    val r = OgrStyleParse.param(s.toString, k.toString)
    if (r == null) null else UTF8String.fromString(r)
  }
  def paramUnit(s: UTF8String, k: UTF8String): UTF8String = {
    val r = OgrStyleParse.paramUnit(s.toString, k.toString)
    if (r == null) null else UTF8String.fromString(r)
  }
}

case class OgrStylePartCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(s: Any): Any =
    StyleRt.partCount(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.StyleRt.partCount($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "ogr_style_part_count"
}

/** op: 0 = part(style, i), 1 = param(part, key), 2 = param_unit(part, key). */
case class OgrStyleBinary(left: Expression, right: Expression, op: Int)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any = op match {
    case 0 => StyleRt.part(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])
    case 1 => StyleRt.param(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    case _ => StyleRt.paramUnit(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = op match {
      case 0 => "part"; case 1 => "param"; case _ => "paramUnit"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""UTF8String ${ev.value}Tmp = graft.expr.StyleRt.$fn($a, $b);
         |if (${ev.value}Tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Tmp; }""".stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = op match {
    case 0 => "ogr_style_part"; case 1 => "ogr_style_param"
    case _ => "ogr_style_param_unit"
  }
}

case class OgrStyleToolName(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override protected def nullSafeEval(s: Any): Any =
    StyleRt.toolName(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""UTF8String ${ev.value}Tmp = graft.expr.StyleRt.toolName($s);
         |if (${ev.value}Tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Tmp; }""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "ogr_style_tool"
}
