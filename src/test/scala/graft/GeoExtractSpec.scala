package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.expr.GeoExtract
import graft.sources.Pages

/** `geo_extract`'s grammar, boundary guards and match order, pinned by
  * hand-picked cases and by a differential test against the three
  * `java.util.regex` patterns that define the grammar.
  */
class GeoExtractSpec extends AnyFunSuite {

  /** The grammar as regular expressions, scanned with `Matcher.find`: the
    * reference the matchers in `GeoExtract` must reproduce exactly.
    */
  private object Oracle {
    private val NUM = "[-+]?\\d{1,3}(?:\\.\\d+)?"
    val P1 = java.util.regex.Pattern.compile(s"($NUM)([NS])\\s+($NUM)([EW])")
    val P2 = java.util.regex.Pattern.compile(s"lat=($NUM)\\s+lon=($NUM)")
    val P3 = java.util.regex.Pattern.compile(s"geo:($NUM),($NUM)")

    private def okBefore(s: String, start: Int): Boolean =
      start == 0 || !(Character.isLetterOrDigit(s.charAt(start - 1)) || s.charAt(start - 1) == '.')
    private def okAfter(s: String, end: Int): Boolean =
      end >= s.length || !Character.isLetterOrDigit(s.charAt(end))
    private def valid(lat: Double, lon: Double): Boolean =
      lat >= -90 && lat <= 90 && lon >= -180 && lon <= 180

    /** (lat, lon) of every mention, and the number of regex matches seen. */
    def extract(s: String): (Seq[(Double, Double)], Int) = {
      val out = Seq.newBuilder[(Double, Double)]
      var found = 0
      val m1 = P1.matcher(s)
      while (m1.find()) {
        found += 1
        if (okBefore(s, m1.start) && okAfter(s, m1.end(2)) && okAfter(s, m1.end(4))) {
          val lat = math.abs(m1.group(1).toDouble) * (if (m1.group(2) == "S") -1 else 1)
          val lon = math.abs(m1.group(3).toDouble) * (if (m1.group(4) == "W") -1 else 1)
          if (valid(lat, lon)) out += ((lat, lon))
        }
      }
      for (p <- Seq(P2, P3)) {
        val m = p.matcher(s)
        while (m.find()) {
          found += 1
          if (okBefore(s, m.start)) {
            val (lat, lon) = (m.group(1).toDouble, m.group(2).toDouble)
            if (valid(lat, lon)) out += ((lat, lon))
          }
        }
      }
      (out.result(), found)
    }
  }

  private def bits(xs: Seq[(Double, Double)]): Seq[(Long, Long)] = xs.map { case (a, b) =>
    (java.lang.Double.doubleToRawLongBits(a), java.lang.Double.doubleToRawLongBits(b))
  }
  private def extract(s: String): Seq[(Double, Double)] = GeoExtract.extract(s).toSeq
  private def assertSame(s: String): Unit =
    assert(bits(extract(s)) === bits(Oracle.extract(s)._1), s"text ${s.map(_.toInt).mkString(",")}")

  test("a match starting inside a longer number or word is rejected") {
    assert(extract("id 1085.5N 2E").isEmpty)
    assert(extract("splat=1 lon=2").isEmpty)
    assert(extract("xgeo:1,2").isEmpty)
    assert(extract(".5N 2E").isEmpty)
    assert(extract("1.5N 2E") === Seq((1.5, 2.0)))
  }

  test("a hemisphere letter must end its token") {
    assert(extract("12.5Now 3E").isEmpty)
    assert(extract("12.5N 3Eat").isEmpty)
    assert(extract("12.5N 3E, then") === Seq((12.5, 3.0)))
  }

  test("hemisphere letters set the sign of the magnitude; -0.0 survives") {
    assert(extract("-12.5S 3W") === Seq((-12.5, -3.0)))
    assert(extract("+12.5N -3E") === Seq((12.5, 3.0)))
    assert(bits(extract("lat=-0 lon=-0.0")) === bits(Seq((-0.0, -0.0))))
    assert(bits(extract("0N 0W geo:+0,-0")) === bits(Seq((0.0, -0.0), (0.0, -0.0))))
  }

  test("a number takes at most three integer digits and has no follow guard in lat=/geo:") {
    assert(extract("lat=1 lon=1234") === Seq((1.0, 123.0)))
    assert(extract("geo:45.5,1234.5") === Seq((45.5, 123.0)))
    assert(extract("lat=1. lon=2") === Seq())
    assert(extract("lat=1 lon=2.") === Seq((1.0, 2.0)))
    assert(extract("geo:91,0 geo:90,-180.0") === Seq((90.0, -180.0)))
  }

  test("a rejected match still ends its scan step: the scan resumes at the match end") {
    val m = Oracle.P1.matcher("1234N 5E")
    assert(m.find() && m.start == 1 && m.end == 8)
    assert(extract("1234N 5E").isEmpty)
    // resuming at start + 1 would accept "23N 5E" after the '+'
    val m2 = Oracle.P1.matcher("1+23N 5E")
    assert(m2.find() && m2.start == 1 && m2.end == 8 && !m2.find())
    assert(extract("1+23N 5E").isEmpty)
    assert(extract("1234N 5E 6N 7E") === Seq((6.0, 7.0)))
  }

  test("whitespace is exactly [ \\t\\n\\x0B\\f\\r]") {
    for (ws <- Seq(" ", "\t", "\n", "\u000B", "\f", "\r", " \t\r\n"))
      assert(extract(s"12N${ws}3E lat=4${ws}lon=5") === Seq((12.0, 3.0), (4.0, 5.0)), ws.map(_.toInt))
    for (ws <- Seq("\u00A0", "\u2003", "\u0085", ""))
      assert(extract(s"12N${ws}3E lat=4${ws}lon=5").isEmpty, ws.map(_.toInt))
  }

  test("letters next to a match: a BMP letter guards, one UTF-16 unit of a supplementary letter does not") {
    assert(extract("é12N 3E").isEmpty)
    assert(extract("12N 3Eé").isEmpty)
    assert(extract("élat=1 lon=2").isEmpty)
    // the guards read one char: U+1D400's surrogates are not letters
    val bold = "𝐀"
    assert(extract(s"${bold}12N 3E") === Seq((12.0, 3.0)))
    assert(extract(s"12N 3E$bold") === Seq((12.0, 3.0)))
    assert(extract(s"${bold}geo:1,2$bold") === Seq((1.0, 2.0)))
    for (s <- Seq("é12N 3E", "12N 3Eé", s"${bold}12N 3E", s"12N 3E$bold", s"é${bold}lat=1 lon=2é"))
      assertSame(s)
  }

  test("mentions come out in grammar-form order, each form left to right") {
    val s = "geo:1,2 lat=3 lon=4 5N 6E geo:7,8 9S 10W lat=11 lon=12"
    assert(extract(s) === Seq((5.0, 6.0), (-9.0, -10.0), (3.0, 4.0), (11.0, 12.0), (1.0, 2.0), (7.0, 8.0)))
    assertSame(s)
  }

  test("differential: 10^5 seeded random strings match the regex grammar bit for bit") {
    val rnd = new scala.util.Random(20261019L)
    val ws = Array(" ", "\t", "\n", "\u000B", "\f", "\r")
    val tokens = Array("-", "+", ".", ",", "N", "S", "E", "W", "lat=", "lon=", "geo:",
      "a", "o", "x", "Z", "é", "ß", "𝐀", " ", "_", "0", "7") ++ ws
    def digits(k: Int): String = Seq.fill(k)(('0' + rnd.nextInt(10)).toChar).mkString
    // mostly well-formed: 1-2 integer digits, a hemisphere of the right
    // axis, one whitespace char; each rule broken often enough to matter
    def number(): String =
      (if (rnd.nextInt(3) == 0) tokens(rnd.nextInt(2)) else "") +
        digits(Array(0, 1, 1, 2, 2, 2, 3, 4)(rnd.nextInt(8))) +
        (if (rnd.nextBoolean()) "." + digits(rnd.nextInt(3)) else "")
    def spaces(): String = Seq.fill(Array(0, 1, 1, 1, 2)(rnd.nextInt(5)))(ws(rnd.nextInt(ws.length))).mkString
    def hemi(axis: String): String = {
      val pool = if (rnd.nextInt(5) == 0) "NSEW" else axis
      pool.charAt(rnd.nextInt(pool.length)).toString
    }
    def piece(): String = rnd.nextInt(6) match {
      case 0 => number() + hemi("NS") + spaces() + number() + hemi("EW")
      case 1 => "lat=" + number() + spaces() + "lon=" + number()
      case 2 => "geo:" + number() + "," + number()
      case 3 => number()
      case _ => tokens(rnd.nextInt(tokens.length))
    }
    var (mentions, matches) = (0L, 0L)
    for (_ <- 0 until 100000) {
      val s = Seq.fill(1 + rnd.nextInt(12))(piece()).mkString
      val (want, found) = Oracle.extract(s)
      assert(bits(extract(s)) === bits(want), s"text ${s.map(_.toInt).mkString(",")}")
      mentions += want.size; matches += found
    }
    // the inputs must reach both sides of every guard and of the range check
    assert(mentions > 20000 && matches > mentions + 100000, s"$mentions mentions, $matches matches")
  }

  test("differential: every Pages.page text of ids 0 to 2*10^5 under three seeds") {
    for (seed <- Seq(42L, 7L, Pages.mix(999L))) {
      var mentions = 0L
      var id = 0L
      while (id <= 200000L) {
        val s = Pages.page(seed, id).text
        val want = Oracle.extract(s)._1
        assert(bits(extract(s)) === bits(want), s"seed $seed page $id")
        mentions += want.size
        id += 1
      }
      assert(mentions > 200000L, s"seed $seed: $mentions mentions")
    }
  }
}
