package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.gf

/** End-to-end smoke drive of the public surface (real SparkSession, real
  * codegen): WKT -> WKB -> cell polyfill -> PIP join -> area/astext, plus
  * the SQL-registered names. Run:
  *   sbt -batch "runMain graft.tools.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-smoke")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    gf.registerAll(spark)

    // zones: two squares (one with a hole) built from WKT through the engine
    val zones = Seq(
      ("Z1", "POLYGON ((0 0,10 0,10 10,0 10,0 0))"),
      ("Z2", "POLYGON ((20 20,40 20,40 40,20 40,20 20),(25 25,35 25,35 35,25 35,25 25))")
    ).toDF("zone_id", "wkt")
      .withColumn("geom", gf.st_geomfromtext($"wkt"))

    // points with known membership
    val pts = Seq(
      ("in_z1", 5.0, 5.0), ("out", 15.0, 15.0),
      ("in_z2_shell", 22.0, 22.0), ("in_z2_hole", 30.0, 30.0)
    ).toDF("pid", "lon", "lat")

    val joined = pts.crossJoin(zones)
      .filter(gf.st_contains_point($"geom", $"lon", $"lat"))
      .select($"pid", $"zone_id")
    println("== PIP join (expect in_z1->Z1, in_z2_shell->Z2) ==")
    joined.show()
    val got = joined.as[(String, String)].collect().toSet
    assert(got == Set(("in_z1", "Z1"), ("in_z2_shell", "Z2")), s"PIP join wrong: $got")

    // measures + SQL surface
    zones.createOrReplaceTempView("zones")
    val m = spark.sql(
      """select zone_id, st_area(geom) area, st_geometrytype(geom) gt,
        |       st_astext(st_point(cast(1.5 as double), cast(2.5 as double))) pt
        |from zones order by zone_id""".stripMargin)
    println("== SQL measures ==")
    m.show(truncate = false)
    val rows = m.collect()
    assert(rows(0).getDouble(1) == 100.0, "Z1 area")
    assert(rows(1).getDouble(1) == 300.0, "Z2 area (hole subtracted)")
    assert(rows(0).getString(3) == "POINT (1.5 2.5)", "st_point/st_astext")

    // cell index through the Column API
    val cells = pts.withColumn("cell", gf.cell_of($"lon", $"lat", 12))
      .withColumn("res", expr("cast(cell / 4503599627370496 as long)")) // 2^52
    assert(cells.filter($"res" === 12).count() == 4, "cell res packing")

    // polyfill on the polygon side (the broadcast side of the real join)
    val nz = zones.withColumn("cell", explode(gf.cells_covering($"geom", 8))).count()
    assert(nz >= 2, "polyfill produced cells")

    // geo_extract grammar
    val ex = Seq("see 48.8584N 2.2945E and lat=-12.5 lon=130.85 or geo:37.786971,-122.399677")
      .toDF("text")
      .select(explode(gf.geo_extract($"text")).as("c"))
      .select($"c.lat", $"c.lon")
    println("== geo_extract ==")
    ex.show(truncate = false)
    assert(ex.count() == 3, "geo_extract finds 3 mentions")

    // constructive geometry through SQL
    val seg = spark.sql(
      "select st_astext(st_segmentize(st_geomfromtext('LINESTRING(0 0,0 10)'), 1.00001))")
      .head().getString(0)
    assert(seg.startsWith("LINESTRING (0 0,0 1,"), "st_segmentize SQL")
    val hullArea = spark.sql(
      "select st_area(st_convexhull(st_geomfromtext('POLYGON((0 0,10 0,10 10,6 10,6 4,4 4,4 10,0 10,0 0))')))")
      .head().getDouble(0)
    assert(hullArea == 100.0, "st_convexhull SQL")
    assert(spark.sql("select hstore_get_value('a=>b,c=>d', 'c')").head().getString(0) == "d")

    // dedup + kNN + text analysis operators end-to-end
    val docs = Seq((0L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta"),
      (2L, "totally different words here")).toDF("id", "text")
    assert(graft.operators.Dedup.exact(docs, $"text", $"id").count() == 2, "exact dedup")
    assert(docs.select(gf.simhash64($"text"), gf.doc_fingerprint($"text"), gf.lang_id($"text"))
      .collect().length == 3)
    val qs2 = Seq((0L, 5.0, 5.0)).toDF("qid", "qlon", "qlat")
    val kn = graft.operators.KnnJoin.kdTree(pts.withColumn("pid2", $"lon".cast("long")),
      $"pid2", $"lon", $"lat", qs2, $"qid", $"qlon", $"qlat", 2)
    assert(kn.count() == 2, "kdTree knn")

    // round-2 surface: overlay, buffer, curves, boundary/delaunay/pos
    val ovArea = spark.sql(
      """select st_area(st_intersection(
        |  st_geomfromtext('POLYGON((0 0,4 0,4 4,0 4,0 0))'),
        |  st_geomfromtext('POLYGON((2 2,6 2,6 6,2 6,2 2))')))""".stripMargin)
      .head().getDouble(0)
    // snap-rounded arrangement: exact topology, coordinates quantized to
    // ~1e-8 of the extent (GEOS fixed-precision overlay has the same)
    assert(math.abs(ovArea - 4.0) < 1e-5, "st_intersection SQL")
    val bufA = spark.sql("select st_area(st_buffer(st_point(1, 2), 0.5))").head().getDouble(0)
    assert(bufA > 0.77 && bufA < 0.786, s"st_buffer circle area $bufA")

    // round-3 surface: dissolve aggregate, polygonize, topology-preserving
    // simplify, numpoints/numgeometries, general CRS transform
    val dissA = spark.sql(
      """select st_area(st_union_agg(g)) from (
        |  select st_geomfromtext('POLYGON((0 0,2 0,2 2,0 2,0 0))') as g
        |  union all
        |  select st_geomfromtext('POLYGON((1 0,3 0,3 2,1 2,1 0))'))""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(dissA - 6.0) < 1e-5, s"st_union_agg SQL $dissA")
    val polyN = spark.sql(
      """select st_numgeometries(st_polygonize(st_geomfromtext(
        |  'MULTILINESTRING((0 0,2 0,2 2,0 2,0 0),(2 0,4 0,4 2,2 2))')))""".stripMargin)
      .head().getInt(0)
    assert(polyN == 2, s"st_polygonize SQL faces $polyN")
    val ptN = spark.sql(
      """select st_numpoints(st_simplify_preserve_topology(st_geomfromtext(
        |  'POLYGON((0 0,2 0.01,4 0,4 4,0 4,0 0))'), 0.1))""".stripMargin)
      .head().getInt(0)
    assert(ptN == 5, s"st_simplify_preserve_topology SQL $ptN")
    val utmX = spark.sql(
      "select st_x(st_transform(st_point(3.0, 0.0), 4326, 32631))")
      .head().getDouble(0)
    assert(math.abs(utmX - 500000.0) < 1e-6, s"st_transform UTM SQL $utmX")
    val srsX = spark.sql(
      "select st_x(st_transform_srs(st_point(3.0, 0.0), 'EPSG:4326', " +
        "'+proj=utm +zone=31 +ellps=WGS84'))")
      .head().getDouble(0)
    assert(math.abs(srsX - 500000.0) < 1e-6, s"st_transform_srs SQL $srsX")

    // geojson/gml codec surface
    val gj = spark.sql(
      "select st_asgeojson(st_geomfromtext('POINT(1.5 2)'))").head().getString(0)
    assert(gj == """{"type":"Point","coordinates":[1.5,2.0]}""", s"geojson $gj")
    val gjArea = spark.sql(
      """select st_area(st_geomfromgeojson('{"type":"Polygon","coordinates":[[[0,0],[3,0],[3,3],[0,3],[0,0]]]}'))""")
      .head().getDouble(0)
    assert(math.abs(gjArea - 9.0) < 1e-12, s"geojson parse area $gjArea")
    val gmlArea = spark.sql(
      "select st_area(st_geomfromgml(st_asgml(st_geomfromtext('POLYGON((0 0,2 0,2 2,0 2,0 0))'))))")
      .head().getDouble(0)
    assert(math.abs(gmlArea - 4.0) < 1e-12, s"gml roundtrip area $gmlArea")

    // streaming file job surface: source → watermarked agg → parquet sink
    // with checkpoint; one closed window must land in the sink
    locally {
      val base = java.nio.file.Files.createTempDirectory("graft-smoke-stream").toString
      val inDir = s"$base/in"; new java.io.File(inDir).mkdirs()
      def ts(h: Long, m: Long) = new java.sql.Timestamp(1700000000000L / 3600000L * 3600000L + h * 3600000L + m * 60000L)
      def batch(name: String, rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit = {
        val stage = s"$base/stage-$name"
        rows.toDF("event_id", "ts", "user_id", "event_type", "value")
          .coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles().find(_.getName.startsWith("part-")).get
        java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$inDir/$name.parquet"))
      }
      batch("b1", Seq((1L, ts(0, 10), 1L, "a", 1.0)))
      val q = graft.streaming.EventStream.hourlyCountsFileJob(
        spark, inDir, s"$base/out", s"$base/ck")
      q.processAllAvailable()
      batch("b2", Seq((2L, ts(4, 0), 2L, "a", 2.0))) // watermark push
      q.processAllAvailable()
      batch("b3", Seq((3L, ts(5, 0), 2L, "a", 3.0))) // flush trigger
      q.processAllAvailable()
      q.stop()
      val n = spark.read.parquet(s"$base/out").count()
      assert(n >= 1, s"streaming file job emitted $n windows")
    }
    val curveIn = spark.sql(
      "select st_curve_contains_point('CURVEPOLYGON (CIRCULARSTRING (0 0,2 0,0 0))', 1.5, 0.0, 45.0)")
      .head().getBoolean(0)
    assert(curveIn, "exact circle PIP via SQL")
    val bLen = spark.sql(
      "select st_length(st_boundary(st_geomfromtext('POLYGON((0 0,4 0,4 2,0 2,0 0))')))")
      .head().getDouble(0)
    assert(bLen == 12.0, "st_boundary SQL")
    assert(spark.sql(
      "select st_area(st_delaunay(st_geomfromtext('MULTIPOINT(0 0,4 0,4 4,0 4,2 2)')))")
      .head().getDouble(0) == 16.0, "st_delaunay SQL")
    assert(spark.sql(
      "select st_dwithin(st_point(0.0d, 0.0d), st_point(3.0d, 4.0d), 5.0d)")
      .head().getBoolean(0), "st_dwithin SQL")
    val hav = spark.sql(
      "select st_distance_sphere(0.0d, 0.0d, 0.0d, 1.0d)").head().getDouble(0)
    assert(math.abs(hav - 111195.0) < 10, s"st_distance_sphere SQL ($hav)")
    assert(spark.sql("select cell_parent(cell_of(2.35d, 48.85d, 8))")
      .head().getLong(0) ==
      graft.index.CellGrid.parent(graft.index.CellGrid.cellId(2.35, 48.85, 8)),
      "cell_parent SQL")

    // round-5 raster surface: cutline, GCP/TPS warp, nearblack, RAT, mosaic
    println("== round-5 raster surface ==")
    locally {
      import graft.raster._
      import graft.core.{GLine, GPolygon, GeoTransform}
      val gt5 = GeoTransform.northUp(0, 8, 1, 1)
      val srcStrips = (0 until 8 by 3).zipWithIndex.map { case (y0, i) =>
        val hh = math.min(3, 8 - y0)
        Dem.DStrip(i, y0, hh, Array.tabulate(hh * 10)(k => ((k % 10) + (y0 + k / 10)).toDouble))
      }.toDS()
      // cutline hard clip
      val poly = GPolygon(Array(GLine(Array(2.2, 1.8, 7.3, 1.8, 7.3, 6.1, 2.2, 6.1, 2.2, 1.8))))
      val dst5 = Warp.DstSpec(10, 8, gt5, stripHeight = 3)
      val cut = Cutline(Warp.warp(spark, srcStrips, 10, 8, gt5, dst5, noData = -1.0),
        dst5, poly, noData = -1.0).collect().flatMap(_.vals)
      assert(cut.count(_ != -1.0) == 20, s"cutline kept ${cut.count(_ != -1.0)} pixels") // 5x4 centers
      // GCP order-1 warp round trip
      val gcps = for (g <- Seq((0, 0), (8, 0), (0, 6), (8, 6), (4, 3)))
        yield GcpTransform.Gcp(1.0 + g._1 * 1.0, 0.5 + g._2 * 1.0, g._1.toDouble, g._2.toDouble)
      val (gpx, gpy) = GcpTransform.polyTx(gcps, 1)(4.0, 3.0)
      assert(math.abs(gpx - 5.0) < 1e-9 && math.abs(gpy - 3.5) < 1e-9, s"GCP tx ($gpx,$gpy)")
      // nearblack: constant-collar frame removed
      val nbStrips = (0 until 8 by 3).zipWithIndex.map { case (y0, i) =>
        val hh = math.min(3, 8 - y0)
        graft.raster.Overview.IStrip(i, y0, hh, 10, Array.tabulate(hh * 10) { k =>
          val x = k % 10; val y = y0 + k / 10
          if (x >= 2 && x < 8 && y >= 2 && y < 6) 120 else 4
        })
      }.toDS()
      val nb = NearBlack(spark, nbStrips, 10, 8, NearBlack.Opts(nearDist = 10, maxNonBlack = 0))
        .collect().sortBy(_.yOff).flatMap(_.vals)
      assert(nb.count(_ == 120) == 24 && nb.count(_ == 0) == 56, "nearblack collar")
      // RAT histogram + XML round trip
      val ratStrips = (0 until 8 by 3).zipWithIndex.map { case (y0, i) =>
        val hh = math.min(3, 8 - y0)
        graft.raster.Overview.IStrip(i, y0, hh, 10, Array.tabulate(hh * 10)(k => k % 4))
      }.toDS()
      val rat = Rat.fromXml(Rat.fromRasterHistogram(spark, ratStrips).toXml)
      val totalCount = (0 until rat.rowCount).map(rat.valueInt(_, 1)).sum
      assert(rat.rowCount == 4 && totalCount == 80, s"RAT histogram ($totalCount)")
      // mosaic: second layer wins where valid
      val m = Mosaic(spark, Seq(
        Mosaic.Source(srcStrips, 10, 8, gt5),
        Mosaic.Source(srcStrips.map(s => s.copy(vals = s.vals.map(_ + 100))), 10, 8, gt5)),
        dst5, noData = -1.0).collect().flatMap(_.vals)
      assert(m.forall(_ >= 100.0), "mosaic overwrite")
    }

    // flagship pipeline transform on a small page batch
    val pages = graft.sources.Pages.synth(spark, 2000L)
    val zonesG = zones.select($"zone_id", $"geom")
    val pipeRows = graft.jobs.Pipeline.transform(pages, zonesG,
      graft.jobs.Pipeline.Config(outDir = "", nBatches = 1)).count()
    println(s"pipeline rows: $pipeRows")

    // show a physical plan to confirm codegen participation
    println("== plan (PIP filter should sit inside WholeStageCodegen) ==")
    pts.crossJoin(zones).filter(gf.st_contains_point($"geom", $"lon", $"lat")).explain("formatted")

    println("SMOKE OK")
    spark.stop()
  }
}
