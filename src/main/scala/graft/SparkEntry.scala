package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Geom, GeoTransform, GPolygon}
import graft.operators._
import graft.raster.{Polygonize, Rasterize, RasterStrips}
import graft.sources.Pages

/** Driver contract: one `queries` entry per implemented operator family
  * (SURVEY.md §2), each with DuckDB-runnable oracle SQL over the same
  * parquet tables (or pinned golden constants for fixture-driven raster
  * ops). Column names/aliases match between the Spark plan and the oracle
  * because the driver's comparison sorts columns by name before hashing.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // --------------------------------------------------------------------
  // Derived point set (SQL-mirrorable): 40 deterministic points per doc.
  // All arithmetic is integer-exact until one double division, so Spark
  // and DuckDB produce bit-identical coordinates.
  // --------------------------------------------------------------------
  private def docPoints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(sequence(lit(0L), lit(39L))).as("s"))
      .select(
        (col("doc_id") * 40 + col("s")).as("pid"),
        (((col("doc_id") * 40 + col("s")) * lit(7919L) % 36000L) / 100.0 - 180.0 + 0.0037).as("lon"),
        (((col("doc_id") * 40 + col("s")) * lit(104729L) % 18000L) / 100.0 - 90.0 + 0.0037).as("lat"))

  private val docPointsSql: String =
    """pts AS (
      |  SELECT (doc_id * 40 + s) AS pid,
      |         (((doc_id * 40 + s) * 7919 % 36000) / 100.0 - 180.0 + 0.0037) AS lon,
      |         (((doc_id * 40 + s) * 104729 % 18000) / 100.0 - 90.0 + 0.0037) AS lat
      |  FROM documents, (SELECT unnest(generate_series(0, 39)) AS s)
      |)""".stripMargin

  // --------------------------------------------------------------------
  // Zone fixtures for the spatial join (deterministic rectilinear polygons
  // with a concave notch). The oracle re-derives PIP from the edge list by
  // ray-cast parity in plain SQL.
  // --------------------------------------------------------------------
  private val zoneWkts: Seq[(Long, String)] = Pages.zones(12)

  private def zonesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    zoneWkts.toDF("zone_id", "wkt")
      .withColumn("geom", gf.st_geomfromtext($"wkt"))
  }

  /** VALUES list of all zone edges (zone_id, x1, y1, x2, y2), coordinates
    * spelled with the exact WKT token text so DuckDB parses identical
    * doubles.
    */
  private def zoneEdgesValues: String = {
    val rows = zoneWkts.flatMap { case (zid, wkt) =>
      val body = wkt.substring(wkt.indexOf("((") + 2, wkt.indexOf("))"))
      val pts = body.split(",").map(_.trim.split("\\s+"))
      (1 until pts.length).map { i =>
        s"($zid, ${pts(i - 1)(0)}, ${pts(i - 1)(1)}, ${pts(i)(0)}, ${pts(i)(1)})"
      }
    }
    rows.mkString(",\n    ")
  }

  // rasterize fixtures (shared with the specs)
  private val rast1Wkts = Seq(
    "POLYGON((1020 1030,1020 1045,1050 1045,1050 1030,1020 1030))",
    "LINESTRING(1000 1000, 1100 1050)")
  private val rastZWkts = Seq(
    "POLYGON((1020 1030 40,1020 1045 30,1050 1045 20,1050 1030 35,1020 1030 40))",
    "POLYGON((1010 1046 85,1015 1055 35,1055 1060 26,1054 1048 35,1010 1046 85))",
    "POLYGON((1020 1076 190,1025 1085 35,1065 1090 26,1064 1078 35,1020 1076 190),(1023 1079 5,1061 1081 35,1062 1087 26,1028 1082 35,1023 1079 85))",
    "LINESTRING(1005 1000 10, 1100 1050 120)",
    "LINESTRING(1000 1000 150, 1095 1050 -5, 1080 1080 200)")
  private val cutlineWkts = Seq(
    "POLYGON((6.25 1.25,7.25 1.25,7.25 2.25,6.25 2.25,6.25 1.25))",
    "POLYGON((4.25 4.25,6.25 4.25,6.25 6.25,4.25 6.25,4.25 4.25))",
    "POLYGON((1.001 1.001,3.999 3.999,3.2 1.6,1.001 1.001))")

  private val polyGrid = Array(
    107, 123, 132, 115, 132,
    115, 132, 132, 123, 123,
    115, 132, 140, 132, 123,
    148, 132, 123, 123, 123,
    156, 156, 156, 140, 132,
    156, 100, 156, 101, 102,
    156, 156, 156, 103, 103)
  private val polyGt = GeoTransform(440720, 60, 0, 3751440, 0, -60)

  /** Shared 40×30 synthetic DEM (same grid as the hillshade/slope oracles),
    * split into strips of `stripH` rows.
    */
  private def demGridStrips(s: SparkSession, stripH: Int) = {
    import s.implicits._
    val w = 40; val h = 30
    val vals = Array.tabulate(w * h)(i => ((i % w) * 31 + (i / w) * 17) % 23 * 1.0)
    (0 until h by stripH).zipWithIndex.map { case (y0, idx) =>
      val hh = math.min(stripH, h - y0)
      graft.raster.Dem.DStrip(idx, y0, hh,
        java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + hh) * w))
    }.toDS()
  }

  private def demEmit(ds: org.apache.spark.sql.Dataset[graft.raster.Dem.DStrip],
                      alias: String): DataFrame = {
    import ds.sparkSession.implicits._
    val w = 40; val h = 30
    ds.flatMap { st =>
      for (y <- 0 until st.height; x <- 1 until w - 1
           if st.yOff + y >= 1 && st.yOff + y <= h - 2)
        yield (x, st.yOff + y, st.vals(y * w + x))
    }.toDF("x", "y", "v")
      .select(col("x"), col("y"), round(col("v"), 6).as(alias))
  }

  /** Deterministic 4×3 grid of axis-aligned rectangles for the overlay
    * oracles (offsets chosen so no two edges are collinear or touching —
    * the oracle is the closed-form rect-overlap formula).
    */
  private def overlayRects(s: SparkSession, ox: Double, oy: Double,
                           w: Double, h: Double): DataFrame = {
    import s.implicits._
    (0 until 12).map { i =>
      val x0 = (i % 4) * 3.0 + ox; val y0 = (i / 4) * 3.0 + oy
      (i.toLong, s"POLYGON(($x0 $y0,${x0 + w} $y0,${x0 + w} ${y0 + h},$x0 ${y0 + h},$x0 $y0))")
    }.toDF("id", "wkt").withColumn("geom", gf.st_geomfromtext(col("wkt")))
  }

  /** Deterministic 500-vertex forest for the graph oracles: 10 groups of
    * 50; within a group, vertex j's parent is j/2 (binary tree), group
    * roots have no edge. SQL-mirrorable in closed form.
    */
  private def graphEdges(s: SparkSession): DataFrame =
    s.range(1, 500).toDF("i")
      .filter(col("i") % 50 =!= 0)
      .select(
        (col("i") - col("i") % 50 + floor((col("i") % 50) / 2).cast("long")).as("src"),
        col("i").as("dst"),
        (col("i") % 13 + 1).cast("double").as("w"))

  /** Flagship query (driver smoke-checks rows > 0 on sf0.001): full
    * pipeline — synthetic pages → geo_extract → cell index → cell-bucketed
    * PIP join against zones → per-zone page counts.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pages = Pages.synth(spark, 20000L)
    val coords = pages
      .select($"url", explode(gf.geo_extract($"text")).as("c"))
      .select($"url", $"c.lon".as("lon"), $"c.lat".as("lat"))
    SpatialJoin.pointInPolygon(coords, $"lon", $"lat",
        zonesDF(spark).select($"zone_id", $"geom"), $"geom", res = 6)
      .groupBy($"zone_id").agg(count(lit(1)).as("pages"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational / OGR SQL parity ----------------
    "q1_agg" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("sum_price_c"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("cnt"))
    }),
    "q_agg_empty" -> ((s, d) => {
      // reference parity for aggregates over an EMPTY input
      // (autotest/ogr/ogr_sql_test.py:255-287 ogr_sql_11/12: MAX on empty
      // yields one NULL row, DISTINCT on empty yields zero rows): the
      // summary row carries count=0 and NULL min/max/sum/avg, plus the
      // distinct-mode cardinality as a column so both behaviors pin in one
      // hash-compared result
      val none = t(s, d, "lineitem").filter(col("l_quantity") < -1)
      none.agg(
        count(lit(1)).as("cnt"),
        max(col("l_quantity")).as("mx"),
        min(col("l_quantity")).as("mn"),
        sum(col("l_quantity")).as("sm"),
        avg(col("l_quantity")).as("av"),
        countDistinct(col("l_returnflag")).as("n_distinct"))
    }),
    "q_count_star" -> ((s, d) => {
      val li = t(s, d, "lineitem").agg(count(lit(1)).as("n")).select(lit("lineitem").as("tbl"), col("n"))
      val or = t(s, d, "orders").agg(count(lit(1)).as("n")).select(lit("orders").as("tbl"), col("n"))
      val cu = t(s, d, "customer").agg(count(lit(1)).as("n")).select(lit("customer").as("tbl"), col("n"))
      li.unionAll(or).unionAll(cu)
    }),
    "q_count_distinct" -> ((s, d) => {
      t(s, d, "lineitem").agg(
        countDistinct(col("l_partkey")).as("d_part"),
        countDistinct(col("l_suppkey")).as("d_supp"),
        count(col("l_orderkey")).as("n_nonnull"))
    }),
    "q_distinct_order" -> ((s, d) =>
      OgrSql.distinctList(t(s, d, "orders"), col("o_orderpriority"))),
    "q_filter_pred" -> ((s, d) => {
      t(s, d, "part").filter(
          col("p_size").between(10, 20) &&
          col("p_type").ilike("%econ%") &&
          col("p_brand").isin("Brand#1", "Brand#2", "Brand#3", "Brand#13"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
    }),
    "q_substr_cast" -> ((s, d) => {
      val p = t(s, d, "part")
      p.select(col("p_partkey"),
        gf.ogr_substr(col("p_name"), lit(-5), Some(lit(5))).as("tail5"),
        floor(col("p_retailprice")).cast("long").as("price_i"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("label"))
    }),
    "q_left_join_first" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      OgrSql.firstMatchLeftJoin(c, o, col("c_custkey") === col("o_custkey"),
          col("c_custkey"), col("o_orderkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
    }),
    "q_multi_join" -> ((s, d) => {
      // multi-join chain across data sources (region→nation→customer→
      // orders), the OGR SQL multi-table join surface — broadcast dims,
      // shuffle only on the fact side
      t(s, d, "region").join(t(s, d, "nation"),
          col("r_regionkey") === col("n_regionkey"))
        .join(t(s, d, "customer"), col("n_nationkey") === col("c_nationkey"))
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    }),
    "q_random_fid" -> ((s, d) => {
      // random access by FID: point lookups by key predicate — the driver
      // reads exactly the matching rows (parquet row-group pruning)
      t(s, d, "orders").filter(col("o_orderkey").isin(7L, 4135L, 14113L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    }),
    "q_star_expansion" -> ((s, d) =>
      // SELECT * expansion over a whole table (schema-ordered columns)
      t(s, d, "region").select(col("*"))),
    "q_union_all" -> ((s, d) => {
      val a = t(s, d, "customer").select(col("c_custkey").as("id"),
        col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
      val b = t(s, d, "supplier").select(col("s_suppkey").as("id"),
        col("s_acctbal").as("bal"))
      OgrSql.unionAll(a, b)
    }),
    "q_topk_order" -> ((s, d) =>
      t(s, d, "orders").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_totalprice")).limit(20)),
    "q_hstore" -> ((s, d) => {
      t(s, d, "events").filter(col("event_id") < 100)
        .select(col("event_id"),
          gf.hstore_get_value(
            concat(lit("type=>"), col("event_type"), lit(",user=>"), col("user_id").cast("string")),
            lit("user")).as("user_val"))
    }),
    "q_window" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("rn"),
        sum(floor(col("o_totalprice") * 100).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run_c"))
    }),
    "q_avg_datetime" -> ((s, d) =>
      t(s, d, "events").groupBy(col("event_type"))
        .agg(OgrSql.avgDatetime(col("ts")).as("avg_ts"),
          count(lit(1)).as("n"))),
    "q_events_hourly" -> ((s, d) => {
      t(s, d, "events").groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("sum_value_c"))
    }),

    // ---------------- spatial (north rule) ----------------
    "q_cell_of" -> ((s, d) => {
      docPoints(t(s, d, "documents"))
        .select(col("pid"), gf.cell_of(col("lon"), col("lat"), 12).as("cell"))
    }),
    "q_spatial_join" -> ((s, d) => {
      val pts = docPoints(t(s, d, "documents"))
      SpatialJoin.pointInPolygon(pts, col("lon"), col("lat"),
          zonesDF(s).select(col("zone_id"), col("geom")), col("geom"), res = 7)
        .select(col("pid"), col("zone_id"))
    }),
    "q_knn" -> ((s, d) => {
      import s.implicits._
      val pts = docPoints(t(s, d, "documents"))
      val qs = Seq((0L, 2.35, 48.85), (1L, -122.4, 37.78), (2L, 151.2, -33.86),
        (3L, 0.01, 0.01), (4L, 139.69, 35.68)).toDF("qid", "qlon", "qlat")
      KnnJoin(pts, col("lon"), col("lat"), qs, col("qid"), col("qlon"), col("qlat"),
          k = 5, res = 7, tieBreak = Seq(col("pid")))
        .select(col("qid"), col("pid"), col("dist"))
    }),
    "q_tile_assign" -> ((s, d) => {
      docPoints(t(s, d, "documents"))
        .select(col("pid"),
          floor(((col("lon") + 180.0) / 0.1) / 256.0).cast("long").as("tile_x"),
          floor(((lit(90.0) - col("lat")) / 0.1) / 256.0).cast("long").as("tile_y"))
        .groupBy(col("tile_x"), col("tile_y"))
        .agg(count(lit(1)).as("n_points"), min(col("pid")).as("min_pid"))
    }),
    "q_geo_extract" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("see geo:"), (col("doc_id") % 180 - 90).cast("string"),
            lit(","), (col("doc_id") % 360 - 180).cast("string")).as("synth"))
        .select(col("doc_id"), explode(gf.geo_extract(col("synth"))).as("c"))
        .select(col("doc_id"), col("c.lat").as("lat"), col("c.lon").as("lon"))
    }),

    // ---------------- raster (fixture-pinned goldens) ----------------
    "q_rasterize_checksum" -> ((s, d) => {
      import s.implicits._
      def shapes(wkts: Seq[String], burn: Array[Double]) =
        wkts.zipWithIndex.map { case (w, i) =>
          RasterStrips.ShapeRow(i.toLong, Geom.toWkb(Geom.fromWkt(w)), burn)
        }.toDS()
      val gt100 = GeoTransform(1000, 1, 0, 1100, 0, -1)
      val spec100 = RasterStrips.RasterSpec(100, 100, 3, gt100)
      val spec12 = RasterStrips.RasterSpec(12, 12, 3, GeoTransform(0, 1, 0, 12, 0, -1))
      val c1 = RasterStrips.checksum(RasterStrips.rasterize(s,
        shapes(rast1Wkts, Array(200, 220, 240)), spec100, Rasterize.Options(), 16), spec100, 1)
      val c2 = RasterStrips.checksum(RasterStrips.rasterize(s,
        shapes(cutlineWkts, Array(200, 220, 240)), spec12,
        Rasterize.Options(allTouched = true), 5), spec12, 1)
      val c3 = RasterStrips.checksum(RasterStrips.rasterize(s,
        shapes(rastZWkts, Array(10, 10, 55)), spec100,
        Rasterize.Options(burnValueFromZ = true), 16), spec100, 1)
      val celsius = Seq(50.0, 255.0, 60.0, 100.0, 180.0)
      val attrShapes = rastZWkts.zip(celsius).zipWithIndex.map { case ((w, c), i) =>
        RasterStrips.ShapeRow(i.toLong, Geom.toWkb(Geom.fromWkt(w)), Array(c, c, c))
      }.toDS()
      val c4 = RasterStrips.checksum(RasterStrips.rasterize(s,
        attrShapes, spec100, Rasterize.Options(), 16), spec100, 1)
      Seq(("rasterize_1", c1), ("rasterize_2_all_touched", c2),
        ("rasterize_3_burn_z", c3), ("rasterize_4_attribute", c4))
        .toDF("test_case", "checksum")
    }),
    "q_polygonize" -> ((s, d) => {
      import s.implicits._
      val masked = polyGrid.map(v => if (v == 132) Polygonize.NoDataMarker else v)
      val strips = (0 until 7 by 2).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(2, 7 - y0)
        RasterStrips.ValueStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(masked, y0 * 5, (y0 + hh) * 5))
      }.toDS()
      RasterStrips.polygonize(s, strips, 5, 7, 4, polyGt)
        .select(col("value").as("dn"),
          gf.st_area(col("wkb")).cast("long").as("area"))
    }),
    "q_raster_stats" -> ((s, d) => {
      import s.implicits._
      // per-strip partial stats → exact global stats (map-side combine)
      val strips = (0 until 7 by 3).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(3, 7 - y0)
        RasterStrips.ValueStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(polyGrid, y0 * 5, (y0 + hh) * 5))
      }.toDS()
      strips.flatMap(st => st.vals.toSeq).toDF("v")
        .agg(count(lit(1)).as("n_pixels"), min(col("v")).as("min_v"),
          max(col("v")).as("max_v"), sum(col("v")).as("sum_v"))
    }),

    // ---------------- geometry functions ----------------
    "q_st_functions" -> ((s, d) => {
      import s.implicits._
      graft.fixtures.PolyFixture.polyDF(s)
        .withColumn("geom", gf.st_geomfromtext($"wkt"))
        .select(col("eas_id"),
          round(gf.st_area(col("geom")), 1).as("area"),
          round(gf.st_length(col("geom")), 1).as("perimeter"),
          gf.st_geometrytype(col("geom")).as("gtype"))
    }),

    // ---------------- training-data pipeline ----------------
    "q_dedup_exact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dups = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val all = docs.unionByName(dups)
      Dedup.exact(all, col("text"), col("doc_id"))
        .select(col("doc_id"), col("n_chars"))
    }),
    "q_ngram_jaccard" -> ((s, d) => {
      // exact word-n-gram Jaccard verification over candidate pairs —
      // the verify stage that follows MinHash banding in a dedup
      // pipeline (here fed a small deterministic all-pairs candidate set
      // so the oracle can recompute it without replicating MinHash)
      val base = t(s, d, "documents").filter(col("doc_id") % 31 === 0)
        .select(col("doc_id"), col("text"))
      val dups = base.select((col("doc_id") + 1000L).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
      val all = base.unionByName(dups)
      val pairs = all.select(col("doc_id").as("id_a"))
        .crossJoin(all.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      Dedup.verifyJaccard(pairs, all, col("doc_id"), col("text"),
          n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jac_r"))
    }),
    "q_dedup_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val nearDups = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" x")).as("text"))
      val all = docs.unionByName(nearDups)
      // est-threshold 0.62 vs the oracle's true-jaccard 0.7: the corpus
      // pair-similarity distribution is bimodal (≤0.38 noise, ≥0.83
      // near-dups at every sf), so both thresholds select the same set;
      // 0.62 gives ~6σ margin on both sides of the signature estimate.
      Dedup.minhashPairs(all, col("doc_id"), col("text"),
          numHashes = 64, bands = 16, threshold = 0.62, shingle = 5)
        .select(col("id_a"), col("id_b"))
    }),
    "q_dedup_cluster" -> ((s, d) => {
      // near-dup clustering: same corpus/thresholds as q_dedup_minhash,
      // pairs union-found into components, cluster = min doc id
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val nearDups = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" x")).as("text"))
      val all = docs.unionByName(nearDups)
      Dedup.clusters(all, col("doc_id"), col("text"),
        numHashes = 64, bands = 16, threshold = 0.62, shingle = 5)
    }),
    "q_ann_cosine" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.cosineTopK(emb, col("vec_id"), col("embedding"), qs, col("qid"), col("qvec"), 5)
        .select(col("qid"), col("id"), round(col("cosine"), 6).as("cos_r"))
    }),
    "q_text_quality" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.unitCount(col("text")).as("n_units"),
        round(TextOps.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextOps.stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(TextOps.meanWordLen(col("text")), 6).as("mean_wlen"))
    }),
    "q_langid" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), gf.lang_id(col("text")).as("lang_guess"),
        col("lang").as("lang_declared"))),
    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        gf.doc_fingerprint(col("text")).as("fp"),
        gf.simhash64(col("text")).as("sim"))),

    // ---------------- grid / interpolation aggregates ----------------
    "q_grid_metrics" -> ((s, d) => {
      val pts = docPoints(t(s, d, "documents"))
        .withColumn("v", (col("pid") % 100).cast("double"))
      GridInterp.cellMetrics(pts, col("lon"), col("lat"), col("v"), res = 5)
    }),
    "q_idw" -> ((s, d) => {
      import s.implicits._
      val pts = docPoints(t(s, d, "documents"))
        .withColumn("v", (col("pid") % 100).cast("double"))
      val qs = Seq((0L, 2.35, 48.85), (1L, -122.4, 37.78), (2L, 151.2, -33.86),
        (3L, 0.01, 0.01), (4L, 139.69, 35.68)).toDF("qid", "qlon", "qlat")
      GridInterp.idwNearestNeighbor(pts, col("lon"), col("lat"), col("v"),
          qs, col("qid"), col("qlon"), col("qlat"), k = 8, res = 7)
        .select(col("qid"), round(col("idw"), 6).as("idw_r"))
    }),

    "q_grid_moving_avg" -> ((s, d) => {
      import s.implicits._
      val pts = docPoints(t(s, d, "documents"))
        .withColumn("v", (col("pid") % 100).cast("double"))
      val qs = Seq((0L, 2.35, 48.85), (1L, -122.4, 37.78), (2L, 151.2, -33.86),
        (3L, 0.01, 0.01), (4L, 139.69, 35.68)).toDF("qid", "qlon", "qlat")
      GridInterp.movingAverage(pts, col("lon"), col("lat"), col("v"),
          qs, col("qid"), col("qlon"), col("qlat"),
          radius1 = 3.0, radius2 = 2.0, res = 6, noData = -1.0)
        .select(col("qid"), round(col("avg_v"), 6).as("avg_r"))
    }),
    "q_grid_nearest" -> ((s, d) => {
      import s.implicits._
      val pts = docPoints(t(s, d, "documents"))
        .withColumn("v", (col("pid") % 100).cast("double"))
      val qs = Seq((0L, 2.35, 48.85), (1L, -122.4, 37.78), (2L, 151.2, -33.86),
        (3L, 0.01, 0.01), (4L, 139.69, 35.68)).toDF("qid", "qlon", "qlat")
      GridInterp.nearestNeighbor(pts, col("lon"), col("lat"), col("v"),
          qs, col("qid"), col("qlon"), col("qlat"),
          radius1 = 1.5, radius2 = 1.5, res = 6, noData = -1.0)
        .select(col("qid"), round(col("nn_v"), 6).as("nn_r"))
    }),
    "q_grid_linear" -> ((s, d) => {
      import s.implicits._
      // jittered 10×10 sample grid carrying a planar field: ANY correct
      // triangulation interpolates a plane exactly, so the oracle is the
      // plane itself (no triangulation needed on the oracle side)
      val samples = (0 until 100).map { i =>
        val x = (i % 10) * 1.0 + ((i * 7919) % 17) / 100.0
        val y = (i / 10) * 1.0 + ((i * 104729) % 13) / 100.0
        (i.toLong, x, y, 2.5 * x - 1.25 * y + 3.0)
      }.toDF("pid", "x", "y", "v")
      val qs = Seq((0L, 2.6, 3.1), (1L, 5.3, 7.7), (2L, 8.1, 1.9),
        (3L, 4.4, 4.6), (4L, 1.7, 8.2)).toDF("qid", "qx", "qy")
      GridInterp.linear(samples, col("x"), col("y"), col("v"),
          qs, col("qid"), col("qx"), col("qy"), noData = -999.0)
        .select(col("qid"), round(col("lin_v"), 6).as("lin_r"))
    }),

    // ---------------- overview pyramid / DEM derivatives ----------------
    "q_overview" -> ((s, d) => {
      import s.implicits._
      val strips = (0 until 7 by 2).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(2, 7 - y0)
        graft.raster.Overview.IStrip(idx, y0, hh, 5,
          java.util.Arrays.copyOfRange(polyGrid, y0 * 5, (y0 + hh) * 5))
      }.toDS()
      graft.raster.Overview.level(strips, graft.raster.Overview.Average)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until st.width)
            yield (x, st.yOff + y, st.vals(y * st.width + x))
        }.toDF("x", "y", "v")
    }),
    "q_hillshade" -> ((s, d) => {
      import s.implicits._
      val w = 40; val h = 30
      val gt = graft.core.GeoTransform.northUp(0, h, 1, 1)
      val vals = Array.tabulate(w * h)(i => ((i % w) * 31 + (i / w) * 17) % 23 * 1.0)
      val strips = (0 until h by 7).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(7, h - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + hh) * w))
      }.toDS()
      graft.raster.Dem.hillshade(s, strips, w, h, gt)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 1 until w - 1
               if st.yOff + y >= 1 && st.yOff + y <= h - 2)
            yield (x, st.yOff + y, st.vals(y * w + x))
        }.toDF("x", "y", "hs")
        .select(col("x"), col("y"), round(col("hs"), 6).as("hs_r"))
    }),
    "q_slope" -> ((s, d) => {
      import s.implicits._
      val w = 40; val h = 30
      val gt = graft.core.GeoTransform.northUp(0, h, 1, 1)
      val vals = Array.tabulate(w * h)(i => ((i % w) * 31 + (i / w) * 17) % 23 * 1.0)
      val strips = (0 until h by 11).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(11, h - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + hh) * w))
      }.toDS()
      graft.raster.Dem.slope(s, strips, w, h, gt)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 1 until w - 1
               if st.yOff + y >= 1 && st.yOff + y <= h - 2)
            yield (x, st.yOff + y, st.vals(y * w + x))
        }.toDF("x", "y", "sl")
        .select(col("x"), col("y"), round(col("sl"), 6).as("sl_r"))
    }),

    "q_translate" -> ((s, d) => {
      import s.implicits._
      val strips = (0 until 7 by 2).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(2, 7 - y0)
        graft.raster.Overview.IStrip(idx, y0, hh, 5,
          java.util.Arrays.copyOfRange(polyGrid, y0 * 5, (y0 + hh) * 5))
      }.toDS()
      val win = graft.raster.Translate.srcWin(strips, 1, 1, 3, 5)
      val resized = graft.raster.Translate.resizeNearest(win, 3, 5, 6, 10, dstStripH = 4)
      val scaled = graft.raster.Translate.scaleToByte(resized, 100, 156)
      scaled.flatMap { st =>
        for (y <- 0 until st.height; x <- 0 until st.width)
          yield (x, st.yOff + y, st.vals(y * st.width + x))
      }.toDF("x", "y", "v")
    }),
    "q_proximity" -> ((s, d) => {
      import s.implicits._
      // distributed exact-euclidean proximity on the polygonize grid
      // (targets = value 156), checked against a brute-force oracle
      val strips = (0 until 7 by 3).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(3, 7 - y0)
        graft.raster.Overview.IStrip(idx, y0, hh, 5,
          java.util.Arrays.copyOfRange(polyGrid, y0 * 5, (y0 + hh) * 5))
      }.toDS()
      graft.raster.Proximity.proximity(s, strips, 5, 7, Set(156), maxDist = 10.0, noData = -1)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until 5)
            yield (x, st.yOff + y, st.vals(y * 5 + x))
        }.toDF("x", "y", "d")
        .select(col("x"), col("y"), round(col("d"), 6).as("d_r"))
    }),
    "q_sieve" -> ((s, d) => {
      import s.implicits._
      val unmergable = Array(
        10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20, 21, 22, 23, 24,
        25, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35, 36, 37, 38,
        39, 40, 41, 42, 43)
      def strips(src: Array[Int]) = (0 until 7 by 3).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(3, 7 - y0)
        graft.raster.Overview.IStrip(idx, y0, hh, 5,
          java.util.Arrays.copyOfRange(src, y0 * 5, (y0 + hh) * 5))
      }.toDS()
      def cs(ds: org.apache.spark.sql.Dataset[graft.raster.Overview.IStrip]): Int = {
        val parts = ds.map(st => graft.raster.Checksum.partialInt(
          st.vals, 0, st.vals.length, st.yOff.toLong * 5))
        graft.raster.Checksum.finish(parts.reduce(_ + _))
      }
      Seq(
        ("sieve_1_4conn", cs(graft.raster.Sieve.sieve(s, strips(polyGrid), 5, 7, 2, 4))),
        ("sieve_2_8conn", cs(graft.raster.Sieve.sieve(s, strips(polyGrid), 5, 7, 2, 8))),
        ("sieve_3_unmergable", cs(graft.raster.Sieve.sieve(s, strips(unmergable), 5, 7, 2, 8))))
        .toDF("test_case", "checksum")
    }),
    "q_warp" -> ((s, d) => {
      import s.implicits._
      val srcGt = graft.core.GeoTransform.northUp(0, 7, 1, 1)
      val dstGt = graft.core.GeoTransform.northUp(-0.5, 7.5, 0.7, 0.7)
      val strips = (0 until 7 by 3).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(3, 7 - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(polyGrid.map(_.toDouble), y0 * 5, (y0 + hh) * 5))
      }.toDS()
      graft.raster.Warp.warp(s, strips, 5, 7, srcGt,
          graft.raster.Warp.DstSpec(8, 10, dstGt, stripHeight = 4),
          kernel = graft.raster.Warp.Nearest, noData = -1.0)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until 8)
            yield (x, st.yOff + y, st.vals(y * 8 + x))
        }.toDF("x", "y", "v")
    }),
    "q_warp_cubic" -> ((s, d) => {
      import s.implicits._
      // src 12×14 closed-form grid; dst chosen fully interior for the 4×4
      // cubic footprint so the SQL oracle needs no border fallback
      val sw = 12; val sh = 14
      val vals = Array.tabulate(sw * sh)(i => ((i % sw) * 31 + (i / sw) * 17) % 23 * 1.0)
      val strips = (0 until sh by 4).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(4, sh - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(vals, y0 * sw, (y0 + hh) * sw))
      }.toDS()
      graft.raster.Warp.warp(s, strips, sw, sh,
          graft.core.GeoTransform.northUp(0, 14, 1, 1),
          graft.raster.Warp.DstSpec(15, 17,
            graft.core.GeoTransform.northUp(1.2, 12.4, 0.62, 0.62), stripHeight = 5),
          kernel = graft.raster.Warp.Cubic, noData = -1.0)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until 15)
            yield (x, st.yOff + y, st.vals(y * 15 + x))
        }.toDF("x", "y", "v")
        .select(col("x"), col("y"), round(col("v"), 6).as("v_r"))
    }),
    "q_warp_lanczos" -> ((s, d) => {
      import s.implicits._
      val sw = 16; val sh = 18
      val vals = Array.tabulate(sw * sh)(i => ((i % sw) * 31 + (i / sw) * 17) % 23 * 1.0)
      val strips = (0 until sh by 5).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(5, sh - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(vals, y0 * sw, (y0 + hh) * sw))
      }.toDS()
      graft.raster.Warp.warp(s, strips, sw, sh,
          graft.core.GeoTransform.northUp(0, 18, 1, 1),
          graft.raster.Warp.DstSpec(16, 17,
            graft.core.GeoTransform.northUp(2.3, 15.6, 0.62, 0.62), stripHeight = 6),
          kernel = graft.raster.Warp.Lanczos, noData = -1.0)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until 16)
            yield (x, st.yOff + y, st.vals(y * 16 + x))
        }.toDF("x", "y", "v")
        .select(col("x"), col("y"), round(col("v"), 6).as("v_r"))
    }),
    "q_warp_average" -> ((s, d) => {
      import s.implicits._
      val sw = 12; val sh = 14
      val vals = Array.tabulate(sw * sh)(i => ((i % sw) * 31 + (i / sw) * 17) % 23 * 1.0)
      val strips = (0 until sh by 3).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(3, sh - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(vals, y0 * sw, (y0 + hh) * sw))
      }.toDS()
      // aligned 2× downscale: each dst pixel footprint = one 2×2 src block
      graft.raster.Warp.warp(s, strips, sw, sh,
          graft.core.GeoTransform.northUp(0, 14, 1, 1),
          graft.raster.Warp.DstSpec(6, 7,
            graft.core.GeoTransform.northUp(0, 14, 2, 2), stripHeight = 3),
          kernel = graft.raster.Warp.Average, noData = -1.0)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until 6)
            yield (x, st.yOff + y, st.vals(y * 6 + x))
        }.toDF("x", "y", "v")
        .select(col("x"), col("y"), round(col("v"), 6).as("v_r"))
    }),
    "q_warp_nodata" -> ((s, d) => {
      import s.implicits._
      // source-nodata masking (gdalwarper.cpp:364 GDALWarpNoDataMasker):
      // src pixels equal to 5 are excluded from kernel populations/weights;
      // dst -1 marks "nothing valid contributed"
      val sw = 12; val sh = 10
      val vals = Array.tabulate(sw * sh)(i => ((i % sw) * 31 + (i / sw) * 17) % 23 * 1.0)
      def strips = (0 until sh by 3).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(3, sh - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(vals, y0 * sw, (y0 + hh) * sw))
      }.toDS()
      val gt = graft.core.GeoTransform.northUp(0, 10, 1, 1)
      // 1:1 nearest — masked pixels become dst nodata
      val near = graft.raster.Warp.warp(s, strips, sw, sh, gt,
          graft.raster.Warp.DstSpec(sw, sh, gt, stripHeight = 4),
          kernel = graft.raster.Warp.Nearest, noData = -1.0, srcNoData = Some(5.0))
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until sw)
            yield ("nearest", x, st.yOff + y, st.vals(y * sw + x)) }
      // aligned 2× average — population excludes masked pixels
      val avg = graft.raster.Warp.warp(s, strips, sw, sh, gt,
          graft.raster.Warp.DstSpec(6, 5,
            graft.core.GeoTransform.northUp(0, 10, 2, 2), stripHeight = 3),
          kernel = graft.raster.Warp.Average, noData = -1.0, srcNoData = Some(5.0))
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until 6)
            yield ("average", x, st.yOff + y, st.vals(y * 6 + x)) }
      // half-pixel-shifted bilinear: every dst center is equidistant from 4
      // src centers (all weights 0.25) → masked result = mean of the VALID
      // neighbors (weight renormalization in closed form)
      val bil = graft.raster.Warp.warp(s, strips, sw, sh, gt,
          graft.raster.Warp.DstSpec(sw - 1, sh - 1,
            graft.core.GeoTransform.northUp(0.5, 9.5, 1, 1), stripHeight = 4),
          kernel = graft.raster.Warp.Bilinear, noData = -1.0, srcNoData = Some(5.0))
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until sw - 1)
            yield ("bilinear", x, st.yOff + y, st.vals(y * (sw - 1) + x)) }
      near.union(avg).union(bil).toDF("kernel", "x", "y", "v")
        .select(col("kernel"), col("x"), col("y"), round(col("v"), 6).as("v_r"))
    }),
    "q_warp_gcp" -> ((s, d) => {
      import s.implicits._
      // GCP georeferencing (gdal_crs.c / gdal_tps.cpp): GCPs are generated
      // from exactly-polynomial geo→pixel maps, so the independently-fitted
      // inverse polynomials (and the TPS on affine data, whose bending
      // weights solve to 0) reproduce the map in closed form — the oracle
      // recomputes the same maps in SQL. Source has NO geotransform: the
      // GCP transform replaces it (srcGt = identity).
      val sw = 12; val sh = 10
      val vals = Array.tabulate(sw * sh)(i => ((i % sw) * 31 + (i / sw) * 17) % 23 * 1.0)
      def strips = (0 until sh by 3).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(3, sh - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(vals, y0 * sw, (y0 + hh) * sw))
      }.toDS()
      val idGt = graft.core.GeoTransform(0, 1, 0, 0, 0, 1)
      val dstSpec = graft.raster.Warp.DstSpec(9, 8,
        graft.core.GeoTransform.northUp(0, 8, 1, 1), stripHeight = 3)
      val aff: (Double, Double) => (Double, Double) = (gx, gy) =>
        (0.38 + 1.29 * gx + 0.11 * gy, 0.166 + 1.13 * gy + 0.051 * gx)
      val quad: (Double, Double) => (Double, Double) = (gx, gy) =>
        (0.31 + 1.19 * gx + 0.031 * gy + 0.021 * gx * gx,
         0.13 + 1.17 * gy + 0.023 * gx + 0.017 * gy * gy)
      val cub: (Double, Double) => (Double, Double) = (gx, gy) =>
        (0.221 + 1.11 * gx + 0.041 * gy + 0.016 * gx * gx + 0.0031 * gx * gx * gx,
         0.279 + 1.07 * gy + 0.029 * gx + 0.011 * gy * gy + 0.0023 * gy * gy * gy)
      def gcpsOf(f: (Double, Double) => (Double, Double)) =
        for (gx <- 0 to 8 by 2; gy <- 0 to 6 by 2) yield {
          val (px, py) = f(gx.toDouble, gy.toDouble)
          graft.raster.GcpTransform.Gcp(px, py, gx.toDouble, gy.toDouble)
        }
      val cases = Seq(
        ("poly1", graft.raster.GcpTransform.polyTx(gcpsOf(aff), 1)),
        ("poly2", graft.raster.GcpTransform.polyTx(gcpsOf(quad), 2)),
        ("poly3", graft.raster.GcpTransform.polyTx(gcpsOf(cub), 3)),
        ("tps", graft.raster.GcpTransform.tpsTx(gcpsOf(aff))))
      cases.map { case (name, tx) =>
        graft.raster.Warp.warp(s, strips, sw, sh, idGt, dstSpec, tx = tx,
            kernel = graft.raster.Warp.Nearest, noData = -1.0)
          .flatMap { st =>
            for (y <- 0 until st.height; x <- 0 until 9)
              yield (name, x, st.yOff + y, st.vals(y * 9 + x)) }
      }.reduce(_ union _).toDF("test_case", "x", "y", "v")
    }),
    "q_warp_cutline" -> ((s, d) => {
      import s.implicits._
      // gdalwarp -cutline/-crop_to_cutline/-cblend: hard diamond mask,
      // feathered rectangle (blend 1.5 px against the nodata fill), and a
      // cutline-cropped dst grid — all center-rule closed forms in SQL
      val sw = 12; val sh = 10
      val vals = Array.tabulate(sw * sh)(i => ((i % sw) * 31 + (i / sw) * 17) % 23 * 1.0)
      def strips = (0 until sh by 3).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(3, sh - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(vals, y0 * sw, (y0 + hh) * sw))
      }.toDS()
      val gt = graft.core.GeoTransform.northUp(0, 10, 1, 1)
      def ringPoly(pts: (Double, Double)*): graft.core.GPolygon =
        graft.core.GPolygon(Array(graft.core.GLine(
          (pts :+ pts.head).flatMap(p => Seq(p._1, p._2)).toArray)))
      val diamond = ringPoly((6.2 - 3.77, 5.1), (6.2, 5.1 + 3.77),
        (6.2 + 3.77, 5.1), (6.2, 5.1 - 3.77))
      val rect = ringPoly((2.3, 1.7), (9.4, 1.7), (9.4, 8.2), (2.3, 8.2))
      val idDst = graft.raster.Warp.DstSpec(sw, sh, gt, stripHeight = 4)
      def idWarp(dst: graft.raster.Warp.DstSpec) =
        graft.raster.Warp.warp(s, strips, sw, sh, gt, dst,
          kernel = graft.raster.Warp.Nearest, noData = -1.0)
      val hard = graft.raster.Cutline(idWarp(idDst), idDst, diamond, noData = -1.0)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until sw)
            yield ("hard", x, st.yOff + y, st.vals(y * sw + x)) }
      val blend = graft.raster.Cutline(idWarp(idDst), idDst, rect,
          noData = -1.0, blendPx = 1.5)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until sw)
            yield ("blend", x, st.yOff + y, st.vals(y * sw + x)) }
      val cropDst = graft.raster.Cutline.cropToCutline(rect, 1, 1, stripHeight = 3)
      val crop = graft.raster.Cutline(idWarp(cropDst), cropDst, rect, noData = -1.0)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until cropDst.width)
            yield ("crop", x, st.yOff + y, st.vals(y * cropDst.width + x)) }
      hard.union(blend).union(crop).toDF("test_case", "x", "y", "v")
        .select(col("test_case"), col("x"), col("y"), round(col("v"), 6).as("v_r"))
    }),
    "q_nearblack" -> ((s, d) => {
      import s.implicits._
      // nearblack collar removal (apps/nearblack_lib.cpp): dark collar with
      // speckle runs, bright core, interior dark holes that must survive.
      // Oracle pinned from tools/gen_nearblack_oracle.py (independent
      // Python port of the reference ProcessLine).
      val w = 24; val h = 16
      val speckles = Set((1, 1), (2, 1), (22, 14), (1, 8), (2, 8), (3, 8))
      val holes = Set((10, 8), (11, 8))
      def srcV(x: Int, y: Int): Int = {
        var base = if (x >= 4 && x < 20 && y >= 3 && y < 13) 60 + ((x * 7 + y * 11) % 40)
                   else (x * 5 + y * 3) % 12
        if (speckles((x, y))) base = 200
        if (holes((x, y))) base = 3
        base
      }
      val strips = (0 until h by 5).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(5, h - y0)
        graft.raster.Overview.IStrip(idx, y0, hh, w,
          Array.tabulate(hh * w)(i => srcV(i % w, y0 + i / w)))
      }.toDS()
      graft.raster.NearBlack(s, strips, w, h,
          graft.raster.NearBlack.Opts(nearDist = 15, maxNonBlack = 2))
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until w)
            yield (x, st.yOff + y, st.vals(y * w + x))
        }.toDF("x", "y", "v")
    }),
    "q_rat" -> ((s, d) => {
      import s.implicits._
      // raster attribute table (gdal_rat.cpp): histogram RAT built by one
      // distributed groupBy, then pixels classified through a RAT column
      // (XML round-tripped in between, exercising the PAM serialization)
      val w = 18; val h = 12
      def srcV(x: Int, y: Int): Int = (x * 3 + y * 5) % 7
      def strips = (0 until h by 4).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(4, h - y0)
        graft.raster.Overview.IStrip(idx, y0, hh, w,
          Array.tabulate(hh * w)(i => srcV(i % w, y0 + i / w)))
      }.toDS()
      val rat0 = graft.raster.Rat.fromRasterHistogram(s, strips)
      val rat = graft.raster.Rat.fromXml(rat0.toXml) // PAM round trip
      val hist = rat.rows.map(r => ("hist", r(0).toInt, 0, r(1).toLong))
      // classification table: VALUE -> CLASS = value*10 + 1
      val cls = graft.raster.Rat.Table(
        Vector(graft.raster.Rat.Field("VALUE", graft.raster.Rat.GFT_Integer, graft.raster.Rat.GFU_MinMax),
               graft.raster.Rat.Field("CLASS", graft.raster.Rat.GFT_Integer, graft.raster.Rat.GFU_Generic)),
        (0 until 7).map(v => Vector(v.toString, (v * 10 + 1).toString)).toVector)
      val classified = graft.raster.Rat.classify(s, strips, cls, "CLASS")
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until w)
            yield ("classify", x, st.yOff + y, st.vals(y * w + x).toLong) }
        .collect().toSeq
      (hist ++ classified).toDF("test_case", "a", "b", "c")
    }),
    "q_mosaic" -> ((s, d) => {
      import s.implicits._
      // gdalwarp multi-source mosaic: base grid A, overlapping grid B
      // warped in order — B overwrites where valid, its srcNoData (5)
      // pixels stay transparent so A shows through (hole-filling)
      def stripsOf(w: Int, h: Int, f: (Int, Int) => Double) =
        (0 until h by 3).zipWithIndex.map { case (y0, idx) =>
          val hh = math.min(3, h - y0)
          graft.raster.Dem.DStrip(idx, y0, hh,
            Array.tabulate(hh * w)(i => f(i % w, y0 + i / w)))
        }.toDS()
      val a = graft.raster.Mosaic.Source(
        stripsOf(12, 10, (x, y) => ((x * 31 + y * 17) % 23).toDouble), 12, 10,
        graft.core.GeoTransform.northUp(0, 10, 1, 1))
      val b = graft.raster.Mosaic.Source(
        stripsOf(8, 6, (x, y) => ((x * 7 + y * 5) % 9).toDouble), 8, 6,
        graft.core.GeoTransform.northUp(6, 8, 1, 1), srcNoData = Some(5.0))
      val dst = graft.raster.Warp.DstSpec(16, 12,
        graft.core.GeoTransform.northUp(0, 12, 1, 1), stripHeight = 4)
      graft.raster.Mosaic(s, Seq(a, b), dst, noData = -1.0)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until 16)
            yield (x, st.yOff + y, st.vals(y * 16 + x))
        }.toDF("x", "y", "v")
    }),
    "q_warp_rpc" -> ((s, d) => {
      import s.implicits._
      // RPC georeferencing (gdal_rpc.cpp): rational-polynomial sensor
      // model as the warp pull transform; the oracle recomputes the same
      // normalized rational closed form in SQL
      val sw = 12; val sh = 10
      val vals = Array.tabulate(sw * sh)(i => ((i % sw) * 31 + (i / sw) * 17) % 23 * 1.0)
      def strips = (0 until sh by 3).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(3, sh - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(vals, y0 * sw, (y0 + hh) * sw))
      }.toDS()
      def coef(pairs: (Int, Double)*): Array[Double] = {
        val a = new Array[Double](20); pairs.foreach { case (i, v) => a(i) = v }; a
      }
      val m = graft.raster.Rpc.Model(
        lineOff = 5, lineScale = 5, sampOff = 6, sampScale = 6,
        latOff = 4, latScale = 4, longOff = 4, longScale = 4,
        heightOff = 0, heightScale = 1,
        lineNum = coef(0 -> 0.02, 2 -> 0.9, 1 -> 0.03),
        lineDen = coef(0 -> 1.0, 1 -> 0.005),
        sampNum = coef(0 -> 0.01, 1 -> 1.0, 2 -> 0.05, 4 -> 0.02),
        sampDen = coef(0 -> 1.0, 2 -> 0.01))
      graft.raster.Warp.warp(s, strips, sw, sh,
          graft.core.GeoTransform(0, 1, 0, 0, 0, 1),
          graft.raster.Warp.DstSpec(9, 8,
            graft.core.GeoTransform.northUp(0, 8, 1, 1), stripHeight = 3),
          tx = graft.raster.Rpc.forwardTx(m),
          kernel = graft.raster.Warp.Nearest, noData = -1.0)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until 9)
            yield (x, st.yOff + y, st.vals(y * 9 + x)) }
        .toDF("x", "y", "v")
    }),
    "q_histogram" -> ((s, d) => {
      // GetHistogram semantics (gdal/gcore/gdalrasterband.cpp:2683): fixed
      // equal-width buckets over [min, max]; here 8 buckets over lineitem
      // quantity — bucket index floor((v - lo) / width) clamped.
      t(s, d, "lineitem")
        .select(least(floor((col("l_quantity") - 1.0) / 50.0 * 8.0), lit(7.0))
          .cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    }),

    // ---------------- constructive geometry / layer algebra ----------------
    "q_overlay" -> ((s, d) => {
      import s.implicits._
      val a = overlayRects(s, 0.0, 0.0, 2.6, 2.6)
      val b = overlayRects(s, 1.317, 1.113, 2.4, 2.2)
      SpatialJoin.overlayJoin(a, col("id"), col("geom"), b, col("id"), col("geom"), res = 8)
        .select(col("left_key"), col("right_key"),
          round(gf.st_area(col("wkb")), 6).as("area_r"))
    }),
    "q_overlay_erase" -> ((s, d) => {
      import s.implicits._
      val a = overlayRects(s, 0.0, 0.0, 2.6, 2.6)
      val b = overlayRects(s, 1.317, 1.113, 2.4, 2.2)
      SpatialJoin.eraseJoin(a, col("id"), col("geom"), b, col("id"), col("geom"), res = 8)
        .select(col("left_key"), round(gf.st_area(col("wkb")), 6).as("area_r"))
    }),

    "q_geom_misc" -> ((s, d) => {
      import s.implicits._
      // closed-form expectations: boundary of a 4×2 rect has length 12;
      // the Delaunay triangles of 4 corners + center tile the square
      // exactly (area 16); point-on-surface of a concave U lies inside it
      val rect = "POLYGON((0 0,4 0,4 2,0 2,0 0))"
      val five = "MULTIPOINT(0 0,4 0,4 4,0 4,2 2)"
      val u = "POLYGON((0 0,6 0,6 6,4 6,4 2,2 2,2 6,0 6,0 0))"
      Seq((rect, five, u)).toDF("rect", "five", "u")
        .select(
          round(gf.st_length(gf.st_boundary(gf.st_geomfromtext(col("rect")))), 6).as("boundary_len"),
          round(gf.st_area(gf.st_delaunay(gf.st_geomfromtext(col("five")))), 6).as("delaunay_area"),
          gf.st_contains_point(gf.st_geomfromtext(col("u")),
            gf.st_x(gf.st_pointonsurface(gf.st_geomfromtext(col("u")))),
            gf.st_y(gf.st_pointonsurface(gf.st_geomfromtext(col("u")))))
            .cast("int").as("pos_inside"))
    }),
    "q_curve" -> ((s, d) => {
      import s.implicits._
      // ogr_geom.py:2233-2269 curve expectations as boolean flags
      val inX = 1 + math.cos(math.Pi / 6) - 1e-4
      val inY = math.sin(math.Pi / 6)
      val outX = 1 + math.cos(math.Pi / 6) + 1e-4
      val circle = "CURVEPOLYGON (CIRCULARSTRING (0 0,2 0,0 0))"
      val twoArc = "CURVEPOLYGON (CIRCULARSTRING (0 0,1 1,2 0,1 -1,0 0))"
      val reversed = "CURVEPOLYGON (CIRCULARSTRING (0 0,1 -1,2 0,1 1,0 0))"
      val notCircle = "CURVEPOLYGON (CIRCULARSTRING (0 0,1 1,2 0,1 1,0 0))"
      Seq((circle, inX, inY, 45.0, "pip_inside_45"),
        (circle, outX, inY, 45.0, "pip_outside_45"),
        (twoArc, inX, inY, 4.0, "two_arc_circle"),
        (reversed, inX, inY, 4.0, "reversed_circle"),
        (notCircle, 1 + math.cos(math.Pi / 6) - 1e-2, inY, 4.0, "not_circle"))
        .toDF("wkt", "px", "py", "step", "test_case")
        .select(col("test_case"),
          gf.st_curve_contains_point(col("wkt"), col("px"), col("py"), col("step"))
            .cast("int").as("flag"),
          // linearized area sanity: 4° stroked unit circle within 0.01 of π
          (abs(gf.st_area(gf.st_curvetoline(lit(circle), lit(4.0))) - math.Pi) < 0.01)
            .cast("int").as("area_ok"))
    }),

    "q_transform_utm" -> ((s, d) => {
      import s.implicits._
      // general CRS engine (core/Proj.scala): UTM N/S, ETRS89/UTM,
      // BNG (Helmert datum shift), Lambert-93, polar stereographic N/S,
      // UPS, LAEA Europe, projected→projected and the datum-shifted
      // inverse. Oracle = pinned VALUES from the INDEPENDENT Python port
      // (tools/gen_proj_oracle.py, PROJ.4-style series vs Snyder here;
      // cross-validated to <0.1 mm in ProjCrossSpec).
      val pts = Seq(
        (1L, 4326, 32631, 2.3522, 48.8566),
        (2L, 4326, 32631, 5.37, 43.30),
        (3L, 4326, 32631, 0.1278, 51.5074),
        (4L, 4326, 32733, 13.23, -8.83),
        (5L, 4326, 32733, 17.08, -22.57),
        (6L, 4326, 25832, 8.68, 50.11),
        (7L, 4326, 27700, -0.1276, 51.5072),
        (8L, 4326, 27700, -3.1883, 55.9533),
        (9L, 4326, 2154, 2.3522, 48.8566),
        (10L, 4326, 2154, -1.5536, 47.2184),
        (11L, 4326, 3413, -45.0, 70.0),
        (12L, 4326, 3413, -30.0, 78.0),
        (13L, 4326, 3031, 0.0, -75.0),
        (14L, 4326, 3031, 166.67, -77.85),
        (15L, 4326, 5041, 10.0, 85.0),
        (16L, 4326, 3035, 10.0, 52.0),
        (17L, 4326, 3035, -3.70, 40.42),
        (18L, 32631, 2154, 652000.0, 5420000.0),
        (19L, 27700, 4326, 530000.0, 180000.0),
        (20L, 4326, 5070, -96.0, 35.0),
        (21L, 4326, 5070, -118.24, 34.05))
        .toDF("pid", "src", "dst", "px", "py")
      val g = gf.st_transform(gf.st_point(col("px"), col("py")), col("src"), col("dst"))
      def r(c: Column): Column =
        when(col("dst") === 4326, round(c, 8)).otherwise(round(c, 4))
      pts.select(col("pid"), col("dst").as("epsg"),
        r(gf.st_x(g)).as("x_r"), r(gf.st_y(g)).as("y_r"))
    }),

    "q_transform_srs" -> ((s, d) => {
      import s.implicits._
      // arbitrary SRS front-end (core/SrsParse.scala — importFromProj4/
      // importFromWkt parity slice): CRSes defined by PROJ.4 strings and
      // WKT1, none of them in the EPSG dispatch table. Oracle = pinned
      // VALUES from the independent Python port (gen_proj_oracle.py --srs).
      val gk3 = "+proj=tmerc +lat_0=0 +lon_0=9 +k=1 +x_0=3500000 +y_0=0 " +
        "+ellps=intl +towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7"
      val spcs = "+proj=lcc +lat_1=34.0333 +lat_2=35.4666 +lat_0=33.5 " +
        "+lon_0=-118 +x_0=2000000 +y_0=500000 +ellps=GRS80"
      val gls = "+proj=stere +lat_0=90 +lat_ts=71 +lon_0=-39 +x_0=0 +y_0=0 +ellps=WGS84"
      val naa = "+proj=aea +lat_1=20 +lat_2=60 +lat_0=40 +lon_0=-96 +x_0=0 +y_0=0 +ellps=clrk66"
      val nalaea = "+proj=laea +lat_0=45 +lon_0=-100 +x_0=0 +y_0=0 +ellps=WGS84"
      val bngwkt = """PROJCS["BNG",GEOGCS["OSGB36",DATUM["OSGB_1936",""" +
        """SPHEROID["Airy 1830",6377563.396,299.3249646],""" +
        """TOWGS84[446.448,-125.157,542.06,0.1502,0.247,0.8421,-20.4894]],""" +
        """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],""" +
        """PROJECTION["Transverse_Mercator"],""" +
        """PARAMETER["latitude_of_origin",49],PARAMETER["central_meridian",-2],""" +
        """PARAMETER["scale_factor",0.9996012717],""" +
        """PARAMETER["false_easting",400000],PARAMETER["false_northing",-100000],""" +
        """UNIT["metre",1]]"""
      // feet-based CRSes: +units=us-ft leaves +x_0/+y_0 in metres (PROJ
      // fr_meter semantics); the WKT1 UNIT expresses false easting /
      // northing in feet
      val spcsft = spcs + " +units=us-ft"
      val spcswkt = """PROJCS["CA5ft",GEOGCS["NAD83",DATUM["NAD_1983",""" +
        """SPHEROID["GRS 1980",6378137,298.257222101]],""" +
        """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],""" +
        """PROJECTION["Lambert_Conformal_Conic_2SP"],""" +
        """PARAMETER["standard_parallel_1",34.0333],""" +
        """PARAMETER["standard_parallel_2",35.4666],""" +
        """PARAMETER["latitude_of_origin",33.5],""" +
        """PARAMETER["central_meridian",-118],""" +
        """PARAMETER["false_easting",2000000],""" +
        """PARAMETER["false_northing",500000],""" +
        """UNIT["US survey foot",0.3048006096012192]]"""
      val pts = Seq(
        (1L, "gk3", gk3, 9.18, 48.78),
        (2L, "gk3", gk3, 11.58, 48.14),
        (3L, "spcs", spcs, -118.24, 34.05),
        (4L, "spcs", spcs, -119.70, 34.42),
        (5L, "gls", gls, -39.0, 72.0),
        (6L, "gls", gls, -51.7, 64.18),
        (7L, "naa", naa, -96.0, 40.0),
        (8L, "naa", naa, -75.16, 39.95),
        (9L, "nalaea", nalaea, -100.0, 45.0),
        (10L, "nalaea", nalaea, -122.33, 47.61),
        (11L, "bngwkt", bngwkt, -0.1276, 51.5072),
        (12L, "bngwkt", bngwkt, -3.1883, 55.9533),
        (13L, "spcsft", spcsft, -118.24, 34.05),
        (14L, "spcsft", spcsft, -119.70, 34.42),
        (15L, "spcswkt", spcswkt, -118.24, 34.05),
        (16L, "spcswkt", spcswkt, -119.70, 34.42))
        .toDF("pid", "tag", "dst_srs", "px", "py")
      val g = gf.st_transform_srs(gf.st_point(col("px"), col("py")),
        lit("EPSG:4326"), col("dst_srs"))
      // + 0.0 folds any −0.0 from points on the projection center lines
      // into the oracle's literal 0.0 (IEEE: −0.0 + 0.0 = +0.0)
      def r(c: Column): Column = round(c, 4) + lit(0.0)
      pts.select(col("pid"), col("tag"),
        r(gf.st_x(g)).as("x_r"), r(gf.st_y(g)).as("y_r"))
    }),

    "q_warp_utm" -> ((s, d) => {
      import s.implicits._
      // reprojection through the general CRS engine: 20×20 closed-form
      // 4326 grid (lon 3..8, lat 45..50) pulled into a 14×20 EPSG:32631
      // grid (25 km pixels) with the nearest kernel. Oracle = pinned
      // values from the INDEPENDENT Python tmerc port's warp
      // (tools/gen_proj_oracle.py --warp; floor margins > 1e-6 asserted)
      val sw = 20; val sh = 20
      val vals = Array.tabulate(sw * sh)(i => ((i % sw) * 31 + (i / sw) * 17) % 23 * 1.0)
      val srcGt = graft.core.GeoTransform.northUp(3.0, 50.0, 0.25, 0.25)
      val dstGt = graft.core.GeoTransform.northUp(500000.0, 5530000.0, 25000.0, 25000.0)
      val strips = (0 until sh by 5).zipWithIndex.map { case (y0, idx) =>
        graft.raster.Dem.DStrip(idx, y0, 5,
          java.util.Arrays.copyOfRange(vals, y0 * sw, (y0 + 5) * sw))
      }.toDS()
      graft.raster.Warp.warp(s, strips, sw, sh, srcGt,
          graft.raster.Warp.DstSpec(14, 20, dstGt, stripHeight = 6),
          tx = graft.raster.Warp.epsgTx(32631, 4326),
          kernel = graft.raster.Warp.Nearest, noData = -1.0)
        .flatMap { st =>
          for (y <- 0 until st.height; x <- 0 until 14)
            yield (x, st.yOff + y, st.vals(y * 14 + x))
        }.toDF("x", "y", "v")
    }),
    "q_geojson" -> ((s, d) => {
      import s.implicits._
      // GeoJSON + GML codecs: literal writer output for fixed geometries
      // and closed-form areas after parsing foreign-produced documents
      Seq(
        ("pt_json", "POINT(1.5 2)"),
        ("poly_json", "POLYGON((0 0,2 0,2 2,0 2,0 0))"),
        ("pt_gml", "POINT(1.5 2)"))
        .toDF("name", "wkt")
        .select(col("name"),
          when(col("name").endsWith("_gml"),
            gf.st_asgml(gf.st_geomfromtext(col("wkt"))))
            .otherwise(gf.st_asgeojson(gf.st_geomfromtext(col("wkt"))))
            .as("doc"),
          round(gf.st_area(gf.st_geomfromgeojson(lit(
            """{"type":"Polygon","coordinates":[[[0,0],[6,0],[6,6],[0,6],[0,0]],[[2,2],[4,2],[4,4],[2,4],[2,2]]]}"""))), 6)
            .as("json_area"),
          round(gf.st_area(gf.st_geomfromgml(lit(
            "<gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>0 0 4 0 4 4 0 4 0 0</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon>"))), 6)
            .as("gml_area"))
    }),
    "q_dissolve" -> ((s, d) => {
      import s.implicits._
      // cascaded union (st_union_agg aggregate over the arrangement):
      // groups 0..4 are chains of k = 3+g%3 overlapping rects
      // [i, i+1.4]×[0, 1+0.5g] dissolving to ONE polygon of closed-form
      // area (3.4 + g%3)·(1+0.5g); group 5 is two disjoint unit squares
      // (MULTIPOLYGON, area 2)
      def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
        s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))"
      val rows =
        (for (g <- 0 until 5; i <- 0 until (3 + g % 3))
          yield (g.toLong, rect(i, 0, i + 1.4, 1 + 0.5 * g))) ++
          Seq((5L, rect(0, 0, 1, 1)), (5L, rect(5, 0, 6, 1)))
      rows.toDF("g", "wkt")
        .groupBy(col("g"))
        .agg(gf.st_union_agg(gf.st_geomfromtext(col("wkt"))).as("diss"))
        .select(col("g"), gf.st_geometrytype(col("diss")).as("gtype"),
          round(gf.st_area(col("diss")), 4).as("area_r"),
          gf.st_numgeometries(col("diss")).as("n_parts"))
    }),
    "q_polygonize_geom" -> ((s, d) => {
      import s.implicits._
      // geometry-level polygonize (noded linework → bounded faces,
      // dangles dropped, holes assigned): closed-form face counts/areas
      Seq(
        ("grid", "MULTILINESTRING((0 0,3 0),(0 1,3 1),(0 2,3 2),(0 3,3 3)," +
          "(0 0,0 3),(1 0,1 3),(2 0,2 3),(3 0,3 3))"),
        ("donut", "MULTILINESTRING((0 0,6 0,6 6,0 6,0 0),(2 2,4 2,4 4,2 4,2 2))"),
        ("dangle", "MULTILINESTRING((0 0,2 0,2 2,0 2,0 0),(2 2,5 5))"))
        .toDF("name", "wkt")
        .select(col("name"),
          gf.st_polygonize(gf.st_geomfromtext(col("wkt"))).as("f"))
        .select(col("name"), gf.st_numgeometries(col("f")).as("n_faces"),
          round(gf.st_area(col("f")), 4).as("area_r"))
    }),
    "q_makevalid" -> ((s, d) => {
      import s.implicits._
      // invalid-geometry repair (GEOS MakeValid contract; the snapshot's
      // OGR exposes IsValid, ogrgeometry.cpp:1905, and later versions
      // adopt exactly this repair): closed-form fixtures where LINEWORK
      // (even-odd) and STRUCTURE (nonzero) differ predictably
      val overlap = "MULTIPOLYGON(((0 0,2 0,2 2,0 2,0 0))," +
        "((1 0,3 0,3 2,1 2,1 0)))"
      Seq(
        ("bowtie", "POLYGON((0 0,2 2,2 0,0 2,0 0))", "LINEWORK"),
        ("bad_hole", "POLYGON((0 0,10 0,10 10,0 10,0 0)," +
          "(2 2,8 2,8 8,2 8,2 2))", "LINEWORK"),
        ("hole_out", "POLYGON((0 0,4 0,4 4,0 4,0 0)," +
          "(3 1,5 1,5 3,3 3,3 1))", "LINEWORK"),
        ("overlap_lw", overlap, "LINEWORK"),
        ("overlap_st", overlap, "STRUCTURE"))
        .toDF("name", "wkt", "method")
        .select(col("name"),
          gf.st_makevalid(gf.st_geomfromtext(col("wkt")), col("method")).as("f"))
        .select(col("name"), gf.st_numgeometries(col("f")).as("n_faces"),
          round(gf.st_area(col("f")), 4).as("area_r"))
        .orderBy(col("name"))
    }),
    "q_force" -> ((s, d) => {
      import s.implicits._
      // geometry type casts (ogrgeometryfactory.cpp:553 forceToPolygon /
      // :669 forceToMultiPolygon): multi/GC → ONE polygon aggregating ALL
      // parts' rings, closed line → polygon, polygon → wrapped multi,
      // all-polygon GC → promoted multi, non-convertible → passed through
      // unchanged. Oracle = closed-form pinned VALUES (the aggregated
      // 2-tri polygon's area is exterior − "hole" = 2 − 0.5 = 1.5).
      val tri = "POLYGON((0 0,4 0,4 3,0 0))"
      val multi = "MULTIPOLYGON(((0 0,2 0,1 2,0 0)),((5 5,6 5,5 6,5 5)))"
      val gc = "GEOMETRYCOLLECTION(POLYGON((0 0,2 0,1 2,0 0))," +
        "POLYGON((5 5,6 5,5 6,5 5)))"
      Seq(
        ("poly_to_poly", tri, false),
        ("multi_merge", multi, false),
        ("closed_line", "LINESTRING(0 0,4 0,4 3,0 0)", false),
        ("point_pass", "POINT(1 2)", false),
        ("poly_wrap", tri, true),
        ("multi_keep", multi, true),
        ("gc_promote", gc, true),
        ("line_pass", "LINESTRING(0 0,1 1)", true))
        .toDF("name", "wkt", "to_multi")
        .select(col("name"),
          when(col("to_multi"),
            gf.st_force_multipolygon(gf.st_geomfromtext(col("wkt"))))
            .otherwise(gf.st_force_polygon(gf.st_geomfromtext(col("wkt"))))
            .as("f"))
        .select(col("name"),
          gf.st_geometrytype(col("f")).as("gtype"),
          gf.st_numgeometries(col("f")).as("n_geoms"),
          round(gf.st_area(col("f")), 4).as("area_r"))
        .orderBy(col("name"))
    }),
    "q_buffer_concave" -> ((s, d) => {
      import s.implicits._
      // exact concave buffer via the capsule-union arrangement. The
      // rectilinear L (A=7, P=16, 5 convex + 1 reflex right angle)
      // dilated by d has closed-form area A + P·d − d² + 5·πd²/4; the
      // 32-gon arcs may only subtract the inscribed-chord deficit.
      // Erosion of the 6×6 square by 1 is exactly the 4×4 square.
      val lShape = "POLYGON((0 0,4 0,4 1,1 1,1 4,0 4,0 0))"
      val sq6 = "POLYGON((0 0,6 0,6 6,0 6,0 0))"
      val dd = 0.5
      val exact = 7.0 + 16.0 * dd - dd * dd + 5 * math.Pi * dd * dd / 4
      val deficit = (math.Pi / 4 - 4 * math.sin(math.Pi / 16)) * dd * dd
      Seq((lShape, sq6)).toDF("l", "s")
        .withColumn("buf", gf.st_buffer(gf.st_geomfromtext(col("l")), lit(dd)))
        .select(
          ((gf.st_area(col("buf")) <= exact + 1e-4) &&
            (gf.st_area(col("buf")) >= exact - 5 * deficit - 1e-4))
            .cast("int").as("ok_dilate"),
          round(gf.st_area(gf.st_buffer(gf.st_geomfromtext(col("s")), lit(-1.0))), 3)
            .as("area_erode"),
          gf.st_contains_point(col("buf"), lit(1.3), lit(1.3))
            .cast("int").as("in_reflex"),
          gf.st_contains_point(col("buf"), lit(1.8), lit(1.8))
            .cast("int").as("out_reflex"))
    }),
    "q_simplify_pt" -> ((s, d) => {
      import s.implicits._
      // SimplifyPreserveTopology: near-collinear noise removed so the
      // exact 4-corner square comes back (original corners untouched);
      // plain-DP-safe cases behave identically; open lines follow DP
      Seq(
        ("noisy_square", "POLYGON((0 0,2 0.01,4 0,4 4,2 4.01,0 4,0 0))", 0.1),
        ("square_bigtol", "POLYGON((0 0,4 0,4 4,0 4,0 0))", 10.0),
        ("open_line", "LINESTRING(0 0,1 0.001,2 0,2 5)", 0.01))
        .toDF("name", "wkt", "tol")
        .withColumn("g2", gf.st_simplify_preserve_topology(
          gf.st_geomfromtext(col("wkt")), col("tol")))
        .select(col("name"), gf.st_numpoints(col("g2")).as("n_pts"),
          round(gf.st_area(col("g2")), 4).as("area_r"))
    }),

    "q_projwin" -> ((s, d) => {
      import s.implicits._
      // gdal_translate -projwin: pixel-aligned geo window == integer
      // srcwin (closed-form SQL oracle over the synthetic value pattern)
      val w = 20; val h = 12
      val vals = Array.tabulate(w * h)(i => (i % w) * 100 + (i / w))
      val strips = (0 until h by 4).zipWithIndex.map { case (y0, idx) =>
        graft.raster.Overview.IStrip(idx, y0, 4, w,
          java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + 4) * w))
      }.toDS()
      val gt = graft.core.GeoTransform.northUp(500.0, 900.0, 10.0, 10.0)
      val (ds, ow, _, _) = graft.raster.Translate.projWin(
        strips, w, h, gt, 520, 880, 570, 840)
      ds.flatMap { st =>
        for (r <- 0 until st.height; c <- 0 until ow)
          yield (c, st.yOff + r, st.vals(r * ow + c))
      }.toDF("x", "y", "v")
    }),
    "q_overview_subst" -> ((s, d) => {
      import s.implicits._
      // overview substitution: a 2× decimated read served from the
      // AVERAGE level — values follow the (total+2)/4 convention, oracled
      // in closed form
      val w = 16; val h = 8
      val vals = Array.tabulate(w * h)(i => (i % w) * 7 + (i / w) * 3)
      val base = (0 until h by 4).zipWithIndex.map { case (y0, idx) =>
        graft.raster.Overview.IStrip(idx, y0, 4, w,
          java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + 4) * w))
      }.toDS()
      val lvl1 = graft.raster.Overview.level(base, graft.raster.Overview.Average)
      val (out, used) = graft.raster.Overview.resizeWithPyramid(
        base, w, h, Seq((lvl1, 8, 4)), 8, 4)
      out.flatMap { st =>
        for (r <- 0 until st.height; c <- 0 until st.width)
          yield (c, st.yOff + r, st.vals(r * st.width + c), used)
      }.toDF("x", "y", "v", "lvl")
    }),
    "q_complex_magphase" -> ((s, d) => {
      import s.implicits._
      // AVERAGE_MAGPHASE complex overview, oracled against an independent
      // Python float32 port of overview.cpp:1867 (pinned VALUES)
      val w = 8; val h = 4
      val re = Array.tabulate(w * h)(i => ((((i % w) * 37 % 23) - 11).toFloat / 3f).toDouble)
      val im = Array.tabulate(w * h)(i =>
        (((((i % w) * 53 + (i / w) * 29) % 19) - 9).toFloat / 4f).toDouble)
      val strips = (0 until h by 2).zipWithIndex.map { case (y0, idx) =>
        graft.raster.Dem.DStrip(idx, y0, 2,
          java.util.Arrays.copyOfRange(re, y0 * w, (y0 + 2) * w) ++
            java.util.Arrays.copyOfRange(im, y0 * w, (y0 + 2) * w), bands = 2)
      }.toDS()
      graft.raster.Overview.levelComplexMagPhase(strips)
        .flatMap { st =>
          val plane = st.vals.length / 2
          val sw = plane / st.height
          for (r <- 0 until st.height; c <- 0 until sw)
            yield (c, st.yOff + r,
              math.rint(st.vals(r * sw + c) * 1e4) / 1e4,
              math.rint(st.vals(plane + r * sw + c) * 1e4) / 1e4)
        }.toDF("x", "y", "re_r", "im_r")
    }),

    "q_translate_complex" -> ((s, d) => {
      import s.implicits._
      import graft.raster.ComplexPixels
      import graft.raster.ComplexPixels._
      // complex pixel family through -ot casts / checksum / statistics
      // (gcore/gdal.h:66-69; GDALCopyWordsComplexT/ComplexOutT casts,
      // real-component stats per gdalrasterband.cpp:3718-3731, interleaved
      // checksum per gdalchecksum.cpp:92). Oracle = pinned VALUES from the
      // independent Python recomputation (tools/gen_complex_oracle.py).
      val w = 37; val h = 23; val stripH = 5
      // 1.5/2.25 multiples are float32-exact, so CFloat32 storage is lossless
      val re = Array.tabulate(w * h)(i =>
        (((i % w) * 31 + (i / w) * 17) % 23 * 1.5f - 7.0f).toDouble)
      val im = Array.tabulate(w * h)(i =>
        (((i % w) * 13 + (i / w) * 29) % 19 * -2.25f + 3.0f).toDouble)
      val strips = (0 until h by stripH).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(stripH, h - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(re, y0 * w, (y0 + hh) * w) ++
            java.util.Arrays.copyOfRange(im, y0 * w, (y0 + hh) * w), bands = 2)
      }.toDS().persist()
      val csF32 = ComplexPixels.checksum(strips, TCFloat32)
      val asCInt16 = ComplexPixels.convert(strips, TCFloat32, TCInt16)
        .persist()
      val csCInt16 = ComplexPixels.checksum(asCInt16, TCInt16)
      val asInt16 = ComplexPixels.convert(strips, TCFloat32, TInt16)
      val csReal16 = ComplexPixels.checksum(asInt16, TInt16)
      val promoted = ComplexPixels.convert(
        ComplexPixels.convert(strips, TCFloat32, TInt16), TInt16, TCInt32)
      val csPromoted = ComplexPixels.checksum(promoted, TCInt32)
      val st = ComplexPixels.stats(strips)
      strips.unpersist(false); asCInt16.unpersist(false)
      def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
      Seq(
        ("cs_cfloat32", csF32.toDouble),
        ("cs_cint16", csCInt16.toDouble),
        ("cs_real_int16", csReal16.toDouble),
        ("cs_cint32_promoted", csPromoted.toDouble),
        ("stat_min", r6(st.min)),
        ("stat_max", r6(st.max)),
        ("stat_mean", r6(st.mean)),
        ("stat_std", r6(st.std))).toDF("metric", "value")
    }),

    "q_multimodal_decode" -> ((s, d) => {
      import s.implicits._
      import graft.operators.Multimodal
      // real javax.imageio decode: gradient PNGs are encoded AND decoded
      // through ImageIO inside the partition; the 4-band mean-luminance
      // profile is pinned against an analytic recomputation that never
      // touches an image codec (tools/gen_multimodal_oracle.py) — PNG
      // losslessness makes the two paths agree exactly.
      val dims = Seq((0L, 40, 30), (1L, 64, 48), (2L, 17, 11))
      val media = dims.toDS().map { case (id, w, h) =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          val v = (y * 255) / (h - 1)
          var x = 0
          while (x < w) { img.setRGB(x, y, (v << 16) | (v << 8) | v); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Multimodal.MediaRow(id, "image", s"mem://$id", bos.toByteArray, 0, 0)
      }
      val feats = Multimodal.extractFeatures(media, dim = 4)
      def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
      feats.flatMap(f => f.feature.zipWithIndex.map { case (v, b) =>
        (f.media_id.toInt, b, r6(v.toDouble))
      }).toDF("media_id", "band", "value")
    }),

    // ---------------- DEM family (distributed 3×3 over strips) ----------------
    "q_aspect" -> ((s, d) =>
      demEmit(graft.raster.Dem.aspect(s, demGridStrips(s, 9), 40, 30), "asp_r")),
    "q_hillshade_combined" -> ((s, d) =>
      demEmit(graft.raster.Dem.hillshade(s, demGridStrips(s, 10), 40, 30,
        graft.core.GeoTransform.northUp(0, 30, 1, 1), combined = true), "hsc_r")),
    "q_slope_zt" -> ((s, d) =>
      demEmit(graft.raster.Dem.slope(s, demGridStrips(s, 8), 40, 30,
        graft.core.GeoTransform.northUp(0, 30, 1, 1), zt = true), "slz_r")),
    "q_tri" -> ((s, d) =>
      demEmit(graft.raster.Dem.tri(s, demGridStrips(s, 8), 40, 30), "tri_r")),
    "q_tpi" -> ((s, d) =>
      demEmit(graft.raster.Dem.tpi(s, demGridStrips(s, 13), 40, 30), "tpi_r")),
    "q_roughness" -> ((s, d) =>
      demEmit(graft.raster.Dem.roughness(s, demGridStrips(s, 6), 40, 30), "rgh_r")),
    "q_color_relief" -> ((s, d) => {
      val lut = Array(
        graft.raster.Dem.ColorEntry(0.0, 0, 0, 255),
        graft.raster.Dem.ColorEntry(11.0, 0, 255, 0),
        graft.raster.Dem.ColorEntry(22.0, 255, 0, 0))
      graft.raster.Dem.colorRelief(s, demGridStrips(s, 7), 40, lut)
    }),

    // ---------------- distributed contour / fillnodata / palette ----------------
    "q_contour" -> ((s, d) => {
      import s.implicits._
      val size = 160
      val vals = Array.fill(size * size)(0.0)
      for (y <- 40 until 120; x <- 40 until 120) vals(y * size + x) = 10.0
      for (y <- 60 until 100; x <- 60 until 100) vals(y * size + x) = 20.0
      for (y <- 70 until 90; x <- 70 until 90) vals(y * size + x) = 25.0
      val gt = graft.core.GeoTransform(1, 1.0 / size, 0, 50, 0, -1.0 / size)
      val strips = (0 until size by 16).zipWithIndex.map { case (y0, idx) =>
        graft.raster.Dem.DStrip(idx, y0, 16,
          java.util.Arrays.copyOfRange(vals, y0 * size, (y0 + 16) * size))
      }.toDS()
      graft.raster.Contour.contour(s, strips, size, size, gt, Seq(10.0, 20.0), 10.0)
        .groupBy(col("level"))
        .agg(count(lit(1)).as("n_chains"),
          round(sum(gf.st_length(col("wkb"))), 6).as("len_r"))
    }),
    "q_fillnodata" -> ((s, d) => {
      import s.implicits._
      val bt = graft.fixtures.RasterFixtures.byteTif
      def strips(vals: Array[Float], valid: Array[Boolean], w: Int, h: Int, sh: Int) =
        (0 until h by sh).zipWithIndex.map { case (y0, idx) =>
          val hh = math.min(sh, h - y0)
          graft.raster.FillNodata.FStrip(idx, y0, hh,
            java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + hh) * w),
            java.util.Arrays.copyOfRange(valid, y0 * w, (y0 + hh) * w))
        }.toDS()
      // case 1: fully-valid byte.tif passes through → checksum 4672
      val identity = graft.raster.FillNodata.fillStrips(s,
        strips(bt.map(_.toFloat), Array.fill(400)(true), 20, 20, 7), 20, 20)
      val cs = {
        val parts = identity.map { st =>
          val asInt = st.vals.map(v => graft.raster.Translate.toByte(v.toDouble))
          graft.raster.Checksum.partialInt(asInt, 0, asInt.length, st.yOff.toLong * 20)
        }
        graft.raster.Checksum.finish(parts.reduce(_ + _))
      }
      // case 2: constant field with a deterministic hole pattern fills
      // back to the constant exactly → zero mismatches
      val const = Array.fill(400)(42.0f)
      val holes = Array.tabulate(400)(i => (i * 7 + i / 20 * 13) % 5 != 0)
      val filled = graft.raster.FillNodata.fillStrips(s,
        strips(const, holes, 20, 20, 6), 20, 20)
      val bad = filled.flatMap(_.vals.toSeq).filter(_ != 42.0f).count()
      Seq(("identity_checksum", cs.toLong), ("const_bad_pixels", bad))
        .toDF("test_case", "val")
    }),
    "q_palette" -> ((s, d) => {
      import s.implicits._
      val fx = graft.fixtures.RasterFixtures
      val strips = (0 until 50 by 9).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(9, 50 - y0)
        graft.raster.Overview.IStrip(idx, y0, hh, 50, Array.concat(
          java.util.Arrays.copyOfRange(fx.rgbSmallRed, y0 * 50, (y0 + hh) * 50),
          java.util.Arrays.copyOfRange(fx.rgbSmallGreen, y0 * 50, (y0 + hh) * 50),
          java.util.Arrays.copyOfRange(fx.rgbSmallBlue, y0 * 50, (y0 + hh) * 50)), bands = 3)
      }.toDS().localCheckpoint(true)
      val ct = graft.raster.Palette.medianCutStrips(strips, 8)
      val idx = graft.raster.Palette.ditherStripsStreamed(strips, ct)
        .toSeq.sortBy(_._2).flatMap(_._3).toArray
      val cs = graft.raster.Checksum.finish(
        graft.raster.Checksum.partialInt(idx, 0, idx.length, 0L))
      (ct.zipWithIndex.map { case (c, i) => (s"color_$i", c.r, c.g, c.b) } :+
        (("dither_checksum", cs, 0, 0))).toSeq
        .toDF("item", "a", "b", "c")
    }),
    "q_pansharpen" -> ((s, d) => {
      import s.implicits._
      val w = Array(0.25, 0.75)
      val strips = (0 until 4).map { st =>
        graft.raster.Dem.DStrip(st, st * 2, 2, Array.concat(
          Array.tabulate(20)(i => 50.0 + st + i),
          Array.tabulate(20)(i => 10.0 + i), Array.tabulate(20)(i => 30.0 + i)), bands = 3)
      }.toDS()
      graft.raster.Pansharpen.brovey(strips, w)
        .flatMap { st =>
          (1 until st.bands).iterator.flatMap { b =>
            st.band(b).iterator.zipWithIndex.map { case (v, i) => (st.stripIdx, b, i, v) }
          }
        }.toDF("strip", "band", "px", "v")
        .select(col("strip"), col("band"), col("px"), round(col("v"), 6).as("v_r"))
    }),

    // ---------------- ANN-LSH recall / graph ops ----------------
    "q_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Ann.cosineTopK(emb, col("vec_id"), col("embedding"),
          qs, col("qid"), col("qvec"), 5)
        .select(col("qid"), col("id"))
      // bits sized to the corpus (~8 vectors/bucket at 500×64d): 12-bit
      // buckets are near-empty at this sf and recall would measure noise
      val approx = Ann.lshTopK(emb, col("vec_id"), col("embedding"),
          qs, col("qid"), col("qvec"), 5, dim = 64, bits = 6, probeRadius = 2)
        .select(col("qid").as("aqid"), col("id").as("aid"))
      exact.join(approx, col("qid") === col("aqid") && col("id") === col("aid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("aid")).as("n_overlap"))
    }),
    "q_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Ann.cosineTopK(emb, col("vec_id"), col("embedding"),
          qs, col("qid"), col("qvec"), 5)
        .select(col("qid"), col("id"))
      // nlist ~ sqrt(corpus) (500 → 22), nprobe 5
      val approx = Ann.ivfTopK(emb, col("vec_id"), col("embedding"),
          qs, col("qid"), col("qvec"), 5, nlist = 22, nprobe = 5)
        .select(col("qid").as("aqid"), col("id").as("aid"))
      exact.join(approx, col("qid") === col("aqid") && col("id") === col("aid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("aid")).as("n_overlap"))
    }),
    "q_ogr_style" -> ((s, d) => {
      import s.implicits._
      // OGR feature-style engine (ogrfeaturestyle.cpp): part counting
      // (naive-semicolon reference parity incl. quoted ';'), quote-honoring
      // part split, tool names, params with quote/unit handling
      Seq(
        ("multi", "PEN(c:#FF0000,w:5px);BRUSH(fc:#0000FF)"),
        ("label", "LABEL(f:\"Arial, Bold\",s:12pt,t:\"Hello; World\")"),
        ("trail", "PEN(c:#102030);"))
        .toDF("name", "style")
        .select(col("name"),
          gf.ogr_style_part_count(col("style")).as("n_parts"),
          gf.ogr_style_tool(gf.ogr_style_part(col("style"), lit(0))).as("tool0"),
          gf.ogr_style_param(gf.ogr_style_part(col("style"), lit(0)), lit("c")).as("c0"),
          coalesce(gf.ogr_style_param(gf.ogr_style_part(col("style"), lit(0)), lit("w")),
            lit("-")).as("w0"),
          coalesce(gf.ogr_style_param(gf.ogr_style_part(col("style"), lit(0)), lit("t")),
            lit("-")).as("t0"),
          coalesce(gf.ogr_style_param_unit(gf.ogr_style_part(col("style"), lit(0)), lit("s")),
            lit("-")).as("s_unit"))
    }),
    "q_embed_neardup" -> ((s, d) => {
      // embedding-cosine near-dup pairs, exact baseline (broadcast
      // all-pairs at fixture scale; the LSH bucketed path is the scale
      // variant, recall-asserted in PipelineOpsSpec). Threshold 0.45 sits
      // in a ≥0.0016-wide gap of the sf0.01 cosine distribution, so
      // cross-engine float noise cannot flip a pair.
      Dedup.embedNearDupExact(t(s, d, "embeddings"),
          col("vec_id"), col("embedding"), 0.45)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_graph_cc" -> ((s, d) =>
      GraphOps.connectedComponents(graphEdges(s), col("src"), col("dst"))
        .select(col("vertex"), col("comp"))),
    "q_graph_sssp" -> ((s, d) =>
      GraphOps.shortestPaths(graphEdges(s), col("src"), col("dst"), col("w"), 0L)
        .select(col("vertex"), col("dist").cast("long").as("dist_i"))),
    "q_graph_kshortest" -> ((s, d) => {
      import s.implicits._
      // 4×3 grid DAG: right + down edges, deterministic integer weights;
      // every 0→11 path has exactly 5 hops
      val rights = for (r <- 0 until 4; c <- 0 until 2) yield (r * 3 + c, r * 3 + c + 1)
      val downs = for (r <- 0 until 3; c <- 0 until 3) yield (r * 3 + c, (r + 1) * 3 + c)
      val edges = (rights ++ downs).toDF("u", "v")
        .withColumn("w", ((col("u") * 7 + col("v") * 13) % 10 + 1).cast("double"))
      GraphOps.kShortestPaths(edges, col("u"), col("v"), col("w"), 0L, 11L, 4)
        .select(col("rank"), col("cost").cast("long").as("cost_i"), col("n_hops"))
    }),

    // ---------------- streaming-ish incremental (events) ----------------
    "q_sessionize" -> ((s, d) => {
      // gap-based sessionization (30 min) via window functions — the batch
      // expression of what flatMapGroupsWithState does incrementally
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
        .withColumn("sess_idx", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_idx"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("sess_start"))
    })
  )

  /** Shared CTE for the DEM oracles: the synthetic grid + Horn gradients. */
  private val demOracleCte: String =
    """WITH g AS (
      |  SELECT (i % 40) AS x, (i // 40) AS y,
      |         CAST(((i % 40) * 31 + (i // 40) * 17) % 23 AS DOUBLE) AS z
      |  FROM (SELECT unnest(generate_series(0, 1199)) AS i)),
      |w AS (
      |  SELECT c.x, c.y,
      |    max(CASE WHEN n.x = c.x-1 AND n.y = c.y-1 THEN n.z END) AS w0,
      |    max(CASE WHEN n.x = c.x   AND n.y = c.y-1 THEN n.z END) AS w1,
      |    max(CASE WHEN n.x = c.x+1 AND n.y = c.y-1 THEN n.z END) AS w2,
      |    max(CASE WHEN n.x = c.x-1 AND n.y = c.y   THEN n.z END) AS w3,
      |    max(CASE WHEN n.x = c.x   AND n.y = c.y   THEN n.z END) AS w4,
      |    max(CASE WHEN n.x = c.x+1 AND n.y = c.y   THEN n.z END) AS w5,
      |    max(CASE WHEN n.x = c.x-1 AND n.y = c.y+1 THEN n.z END) AS w6,
      |    max(CASE WHEN n.x = c.x   AND n.y = c.y+1 THEN n.z END) AS w7,
      |    max(CASE WHEN n.x = c.x+1 AND n.y = c.y+1 THEN n.z END) AS w8
      |  FROM g c JOIN g n ON abs(n.x - c.x) <= 1 AND abs(n.y - c.y) <= 1
      |  WHERE c.x BETWEEN 1 AND 38 AND c.y BETWEEN 1 AND 28
      |  GROUP BY c.x, c.y),
      |calc AS (
      |  SELECT x, y, w0, w1, w2, w3, w4, w5, w6, w7, w8,
      |    ((w0 + w3 + w3 + w6) - (w2 + w5 + w5 + w8)) / 1.0 AS gx,
      |    ((w6 + w7 + w7 + w8) - (w0 + w1 + w1 + w2)) / (-1.0) AS gy
      |  FROM w)""".stripMargin

  // ---- SQL text builders for the warp-kernel oracles (textual expansion
  // mirrors the Scala kernels' floating-point op order exactly) ----
  private def vGridSql(ix: String, iy: String): String =
    s"CAST((($ix) * 31 + ($iy) * 17) % 23 AS DOUBLE)"

  private def ccSql(d1: String, d2: String, d3: String,
                    f0: String, f1: String, f2: String, f3: String): String =
    s"(($f1) + 0.5 * (($d1) * (($f2) - ($f0)) + ($d2) * (2.0 * ($f0) - 5.0 * ($f1) + 4.0 * ($f2) - ($f3)) + ($d3) * (3.0 * (($f1) - ($f2)) + ($f3) - ($f0))))"

  private def lzSql(x: String): String =
    s"(CASE WHEN ($x) = 0 THEN 1.0 ELSE sin(pi() * ($x)) * sin((pi() * ($x)) / 3) / ((pi() * ($x)) * ((pi() * ($x)) / 3)) END)"

  private def warpCubicOracle: String = {
    def fRow(j: String) = ccSql("dx1", "dx2", "dx3",
      vGridSql("ix - 1", s"iy + ($j)"), vGridSql("ix", s"iy + ($j)"),
      vGridSql("ix + 1", s"iy + ($j)"), vGridSql("ix + 2", s"iy + ($j)"))
    val outer = ccSql("dy1", "dy2", "dy3", fRow("-1"), fRow("0"), fRow("1"), fRow("2"))
    s"""WITH d AS (
       |  SELECT xx.x, yy.y FROM (SELECT unnest(generate_series(0, 14)) AS x) xx,
       |                         (SELECT unnest(generate_series(0, 16)) AS y) yy),
       |p AS (
       |  SELECT x, y, 1.2 + (x + 0.5) * 0.62 AS px,
       |         14.0 - (12.4 - (y + 0.5) * 0.62) AS py FROM d),
       |q AS (
       |  SELECT x, y, px, py,
       |         CAST(floor(px - 0.5) AS INT) AS ix, CAST(floor(py - 0.5) AS INT) AS iy
       |  FROM p),
       |e AS (
       |  SELECT x, y, ix, iy, px - 0.5 - ix AS dx1, py - 0.5 - iy AS dy1 FROM q),
       |e2 AS (
       |  SELECT x, y, ix, iy, dx1, dy1, dx1 * dx1 AS dx2, (dx1 * dx1) * dx1 AS dx3,
       |         dy1 * dy1 AS dy2, (dy1 * dy1) * dy1 AS dy3 FROM e)
       |SELECT x, y, round($outer, 6) AS v_r FROM e2""".stripMargin
  }

  private def warpLanczosOracle: String = {
    val ks = -2 to 3
    val sumH = ks.map(i => lzSql(s"($i - dx1) * 1.0")).mkString("(", " + ", ")")
    val sumV = ks.map(j => lzSql(s"($j - dy1) * 1.0")).mkString("(", " + ", ")")
    val acc = ks.map { j =>
      val local = ks.map(i =>
        s"${vGridSql(s"ix + ($i)", s"iy + ($j)")} * ${lzSql(s"($i - dx1) * 1.0")}")
        .mkString("(", " + ", ")")
      s"${lzSql(s"($j - dy1) * 1.0")} * $local"
    }.mkString("(", " + ", ")")
    s"""WITH d AS (
       |  SELECT xx.x, yy.y FROM (SELECT unnest(generate_series(0, 15)) AS x) xx,
       |                         (SELECT unnest(generate_series(0, 16)) AS y) yy),
       |p AS (
       |  SELECT x, y, 2.3 + (x + 0.5) * 0.62 AS px,
       |         18.0 - (15.6 - (y + 0.5) * 0.62) AS py FROM d),
       |e AS (
       |  SELECT x, y, CAST(floor(px - 0.5) AS INT) AS ix, CAST(floor(py - 0.5) AS INT) AS iy,
       |         px - 0.5 - CAST(floor(px - 0.5) AS INT) AS dx1,
       |         py - 0.5 - CAST(floor(py - 0.5) AS INT) AS dy1
       |  FROM p)
       |SELECT x, y, round($acc / ($sumH * $sumV), 6) AS v_r FROM e""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_warp_cubic" -> warpCubicOracle,
    "q_warp_lanczos" -> warpLanczosOracle,
    "q_warp_average" ->
      """WITH d AS (
        |  SELECT xx.x, yy.y FROM (SELECT unnest(generate_series(0, 5)) AS x) xx,
        |                         (SELECT unnest(generate_series(0, 6)) AS y) yy)
        |SELECT x, y, round((
        |    CAST(((2*x) * 31 + (2*y) * 17) % 23 AS DOUBLE) +
        |    CAST(((2*x+1) * 31 + (2*y) * 17) % 23 AS DOUBLE) +
        |    CAST(((2*x) * 31 + (2*y+1) * 17) % 23 AS DOUBLE) +
        |    CAST(((2*x+1) * 31 + (2*y+1) * 17) % 23 AS DOUBLE)) / 4, 6) AS v_r
        |FROM d""".stripMargin,
    "q_mosaic" ->
      // dst (16x12, northUp(0,12,1,1)); A covers x 0..11 / y 2..11 with
      // (x*31+(y-2)*17)%23; B covers x 6..13 / y 4..9 with
      // ((x-6)*7+(y-4)*5)%9, transparent where that value = 5
      """WITH d AS (
        |  SELECT xx.x, yy.y FROM (SELECT unnest(generate_series(0, 15)) AS x) xx,
        |                         (SELECT unnest(generate_series(0, 11)) AS y) yy)
        |SELECT x, y,
        |  CASE WHEN x BETWEEN 6 AND 13 AND y BETWEEN 4 AND 9
        |            AND ((x-6)*7 + (y-4)*5) % 9 <> 5
        |       THEN CAST(((x-6)*7 + (y-4)*5) % 9 AS DOUBLE)
        |       WHEN x BETWEEN 0 AND 11 AND y BETWEEN 2 AND 11
        |       THEN CAST((x*31 + (y-2)*17) % 23 AS DOUBLE)
        |       ELSE -1.0 END AS v
        |FROM d""".stripMargin,
    "q_warp_rpc" ->
      // dst centers (gx,gy)=(x+0.5, 7.5-y); L=(gx-4)/4, P=(gy-4)/4;
      // px=((0.01+L+0.05P+0.02LP)/(1+0.01P))*6+6.5; py=((0.02+0.9P+0.03L)/
      // (1+0.005L))*5+5.5; nearest=floor, outside 12x10 -> -1
      """WITH d AS (
        |  SELECT xx.x, yy.y,
        |         (xx.x + 0.5 - 4.0) / 4.0 AS L, (7.5 - yy.y - 4.0) / 4.0 AS P
        |  FROM (SELECT unnest(generate_series(0, 8)) AS x) xx,
        |       (SELECT unnest(generate_series(0, 7)) AS y) yy),
        |m AS (
        |  SELECT x, y,
        |    ((0.01 + L + 0.05*P + 0.02*L*P) / (1.0 + 0.01*P)) * 6.0 + 6.5 AS px,
        |    ((0.02 + 0.9*P + 0.03*L) / (1.0 + 0.005*L)) * 5.0 + 5.5 AS py
        |  FROM d)
        |SELECT x, y,
        |  CASE WHEN floor(px) BETWEEN 0 AND 11 AND floor(py) BETWEEN 0 AND 9
        |       THEN CAST((CAST(floor(px) AS INT)*31 + CAST(floor(py) AS INT)*17) % 23 AS DOUBLE)
        |       ELSE -1.0 END AS v
        |FROM m""".stripMargin,
    "q_rat" ->
      """WITH g AS (
        |  SELECT xx.x, yy.y, (xx.x*3 + yy.y*5) % 7 AS v
        |  FROM (SELECT unnest(generate_series(0, 17)) AS x) xx,
        |       (SELECT unnest(generate_series(0, 11)) AS y) yy),
        |hist AS (
        |  SELECT 'hist' AS test_case, v AS a, 0 AS b, count(*) AS c
        |  FROM g GROUP BY v),
        |cls AS (
        |  SELECT 'classify' AS test_case, x AS a, y AS b,
        |         CAST(v*10 + 1 AS BIGINT) AS c FROM g)
        |SELECT * FROM hist UNION ALL SELECT * FROM cls""".stripMargin,
    "q_nearblack" ->
      // pinned from tools/gen_nearblack_oracle.py (independent Python port)
      """SELECT * FROM (VALUES
        |(0, 0, 0), (1, 0, 0), (2, 0, 0), (3, 0, 0), (4, 0, 0), (5, 0, 0), (6, 0, 0), (7, 0, 0),
        |(8, 0, 0), (9, 0, 0), (10, 0, 0), (11, 0, 0), (12, 0, 0), (13, 0, 0), (14, 0, 0), (15, 0, 0),
        |(16, 0, 0), (17, 0, 0), (18, 0, 0), (19, 0, 0), (20, 0, 0), (21, 0, 0), (22, 0, 0), (23, 0, 0),
        |(0, 1, 0), (1, 1, 0), (2, 1, 0), (3, 1, 0), (4, 1, 0), (5, 1, 0), (6, 1, 0), (7, 1, 0),
        |(8, 1, 0), (9, 1, 0), (10, 1, 0), (11, 1, 0), (12, 1, 0), (13, 1, 0), (14, 1, 0), (15, 1, 0),
        |(16, 1, 0), (17, 1, 0), (18, 1, 0), (19, 1, 0), (20, 1, 0), (21, 1, 0), (22, 1, 0), (23, 1, 0),
        |(0, 2, 0), (1, 2, 0), (2, 2, 0), (3, 2, 0), (4, 2, 0), (5, 2, 0), (6, 2, 0), (7, 2, 0),
        |(8, 2, 0), (9, 2, 0), (10, 2, 0), (11, 2, 0), (12, 2, 0), (13, 2, 0), (14, 2, 0), (15, 2, 0),
        |(16, 2, 0), (17, 2, 0), (18, 2, 0), (19, 2, 0), (20, 2, 0), (21, 2, 0), (22, 2, 0), (23, 2, 0),
        |(0, 3, 0), (1, 3, 0), (2, 3, 0), (3, 3, 0), (4, 3, 0), (5, 3, 0), (6, 3, 0), (7, 3, 0),
        |(8, 3, 0), (9, 3, 0), (10, 3, 0), (11, 3, 0), (12, 3, 0), (13, 3, 0), (14, 3, 0), (15, 3, 0),
        |(16, 3, 0), (17, 3, 0), (18, 3, 0), (19, 3, 0), (20, 3, 0), (21, 3, 0), (22, 3, 0), (23, 3, 0),
        |(0, 4, 0), (1, 4, 0), (2, 4, 0), (3, 4, 0), (4, 4, 0), (5, 4, 0), (6, 4, 0), (7, 4, 0),
        |(8, 4, 0), (9, 4, 0), (10, 4, 0), (11, 4, 0), (12, 4, 0), (13, 4, 0), (14, 4, 0), (15, 4, 0),
        |(16, 4, 0), (17, 4, 0), (18, 4, 0), (19, 4, 0), (20, 4, 0), (21, 4, 0), (22, 4, 0), (23, 4, 0),
        |(0, 5, 0), (1, 5, 0), (2, 5, 0), (3, 5, 0), (4, 5, 0), (5, 5, 0), (6, 5, 77), (7, 5, 84),
        |(8, 5, 91), (9, 5, 98), (10, 5, 65), (11, 5, 72), (12, 5, 79), (13, 5, 86), (14, 5, 93), (15, 5, 60),
        |(16, 5, 67), (17, 5, 74), (18, 5, 0), (19, 5, 0), (20, 5, 0), (21, 5, 0), (22, 5, 0), (23, 5, 0),
        |(0, 6, 0), (1, 6, 0), (2, 6, 0), (3, 6, 0), (4, 6, 0), (5, 6, 0), (6, 6, 88), (7, 6, 95),
        |(8, 6, 62), (9, 6, 69), (10, 6, 76), (11, 6, 83), (12, 6, 90), (13, 6, 97), (14, 6, 64), (15, 6, 71),
        |(16, 6, 78), (17, 6, 85), (18, 6, 0), (19, 6, 0), (20, 6, 0), (21, 6, 0), (22, 6, 0), (23, 6, 0),
        |(0, 7, 0), (1, 7, 0), (2, 7, 0), (3, 7, 0), (4, 7, 0), (5, 7, 0), (6, 7, 99), (7, 7, 66),
        |(8, 7, 73), (9, 7, 80), (10, 7, 87), (11, 7, 94), (12, 7, 61), (13, 7, 68), (14, 7, 75), (15, 7, 82),
        |(16, 7, 89), (17, 7, 96), (18, 7, 0), (19, 7, 0), (20, 7, 0), (21, 7, 0), (22, 7, 0), (23, 7, 0),
        |(0, 8, 0), (1, 8, 0), (2, 8, 0), (3, 8, 0), (4, 8, 0), (5, 8, 0), (6, 8, 70), (7, 8, 77),
        |(8, 8, 84), (9, 8, 91), (10, 8, 3), (11, 8, 3), (12, 8, 72), (13, 8, 79), (14, 8, 86), (15, 8, 93),
        |(16, 8, 60), (17, 8, 67), (18, 8, 0), (19, 8, 0), (20, 8, 0), (21, 8, 0), (22, 8, 0), (23, 8, 0),
        |(0, 9, 0), (1, 9, 0), (2, 9, 0), (3, 9, 0), (4, 9, 0), (5, 9, 0), (6, 9, 81), (7, 9, 88),
        |(8, 9, 95), (9, 9, 62), (10, 9, 69), (11, 9, 76), (12, 9, 83), (13, 9, 90), (14, 9, 97), (15, 9, 64),
        |(16, 9, 71), (17, 9, 78), (18, 9, 0), (19, 9, 0), (20, 9, 0), (21, 9, 0), (22, 9, 0), (23, 9, 0),
        |(0, 10, 0), (1, 10, 0), (2, 10, 0), (3, 10, 0), (4, 10, 0), (5, 10, 0), (6, 10, 92), (7, 10, 99),
        |(8, 10, 66), (9, 10, 73), (10, 10, 80), (11, 10, 87), (12, 10, 94), (13, 10, 61), (14, 10, 68), (15, 10, 75),
        |(16, 10, 82), (17, 10, 89), (18, 10, 0), (19, 10, 0), (20, 10, 0), (21, 10, 0), (22, 10, 0), (23, 10, 0),
        |(0, 11, 0), (1, 11, 0), (2, 11, 0), (3, 11, 0), (4, 11, 0), (5, 11, 0), (6, 11, 0), (7, 11, 0),
        |(8, 11, 0), (9, 11, 0), (10, 11, 0), (11, 11, 0), (12, 11, 0), (13, 11, 0), (14, 11, 0), (15, 11, 0),
        |(16, 11, 0), (17, 11, 0), (18, 11, 0), (19, 11, 0), (20, 11, 0), (21, 11, 0), (22, 11, 0), (23, 11, 0),
        |(0, 12, 0), (1, 12, 0), (2, 12, 0), (3, 12, 0), (4, 12, 0), (5, 12, 0), (6, 12, 0), (7, 12, 0),
        |(8, 12, 0), (9, 12, 0), (10, 12, 0), (11, 12, 0), (12, 12, 0), (13, 12, 0), (14, 12, 0), (15, 12, 0),
        |(16, 12, 0), (17, 12, 0), (18, 12, 0), (19, 12, 0), (20, 12, 0), (21, 12, 0), (22, 12, 0), (23, 12, 0),
        |(0, 13, 0), (1, 13, 0), (2, 13, 0), (3, 13, 0), (4, 13, 0), (5, 13, 0), (6, 13, 0), (7, 13, 0),
        |(8, 13, 0), (9, 13, 0), (10, 13, 0), (11, 13, 0), (12, 13, 0), (13, 13, 0), (14, 13, 0), (15, 13, 0),
        |(16, 13, 0), (17, 13, 0), (18, 13, 0), (19, 13, 0), (20, 13, 0), (21, 13, 0), (22, 13, 0), (23, 13, 0),
        |(0, 14, 0), (1, 14, 0), (2, 14, 0), (3, 14, 0), (4, 14, 0), (5, 14, 0), (6, 14, 0), (7, 14, 0),
        |(8, 14, 0), (9, 14, 0), (10, 14, 0), (11, 14, 0), (12, 14, 0), (13, 14, 0), (14, 14, 0), (15, 14, 0),
        |(16, 14, 0), (17, 14, 0), (18, 14, 0), (19, 14, 0), (20, 14, 0), (21, 14, 0), (22, 14, 0), (23, 14, 0),
        |(0, 15, 0), (1, 15, 0), (2, 15, 0), (3, 15, 0), (4, 15, 0), (5, 15, 0), (6, 15, 0), (7, 15, 0),
        |(8, 15, 0), (9, 15, 0), (10, 15, 0), (11, 15, 0), (12, 15, 0), (13, 15, 0), (14, 15, 0), (15, 15, 0),
        |(16, 15, 0), (17, 15, 0), (18, 15, 0), (19, 15, 0), (20, 15, 0), (21, 15, 0), (22, 15, 0), (23, 15, 0)) AS t(x, y, v)""".stripMargin,
    "q_warp_cutline" ->
      // identity warp of the (x*31+y*17)%23 grid, then: hard diamond
      // center-rule mask; rect feather (density 0.5±dist/3 over ±1.5 px,
      // blended against the −1 fill); crop grid snapped outward to res 1
      """WITH d AS (
        |  SELECT xx.x, yy.y, xx.x + 0.5 AS gx, 9.5 - yy.y AS gy,
        |         CAST((xx.x*31 + yy.y*17) % 23 AS DOUBLE) AS v0
        |  FROM (SELECT unnest(generate_series(0, 11)) AS x) xx,
        |       (SELECT unnest(generate_series(0, 9)) AS y) yy),
        |hard AS (
        |  SELECT 'hard' AS test_case, x, y,
        |         CASE WHEN abs(gx - 6.2) + abs(gy - 5.1) <= 3.77
        |              THEN v0 ELSE -1.0 END AS v FROM d),
        |blendd AS (
        |  SELECT x, y, v0, gx, gy,
        |         greatest(2.3 - gx, gx - 9.4, 0.0) AS dxo,
        |         greatest(1.7 - gy, gy - 8.2, 0.0) AS dyo FROM d),
        |blend2 AS (
        |  SELECT x, y, v0,
        |         (dxo = 0 AND dyo = 0) AS inside,
        |         CASE WHEN dxo = 0 AND dyo = 0
        |              THEN least(gx - 2.3, 9.4 - gx, gy - 1.7, 8.2 - gy)
        |              ELSE sqrt(dxo*dxo + dyo*dyo) END AS dist
        |  FROM blendd),
        |blend3 AS (
        |  SELECT x, y, v0,
        |         CASE WHEN inside THEN least(1.0, 0.5 + dist / 3.0)
        |              ELSE greatest(0.0, 0.5 - dist / 3.0) END AS dens
        |  FROM blend2),
        |blend AS (
        |  SELECT 'blend' AS test_case, x, y,
        |         CASE WHEN dens <= 0 THEN -1.0
        |              WHEN dens >= 1 THEN v0
        |              ELSE v0 * dens + (-1.0) * (1 - dens) END AS v
        |  FROM blend3),
        |cropd AS (
        |  SELECT xx.x, yy.y, 2.5 + xx.x AS gx, 8.5 - yy.y AS gy
        |  FROM (SELECT unnest(generate_series(0, 7)) AS x) xx,
        |       (SELECT unnest(generate_series(0, 7)) AS y) yy),
        |crop AS (
        |  SELECT 'crop' AS test_case, x, y,
        |         CASE WHEN gx > 2.3 AND gx < 9.4 AND gy > 1.7 AND gy < 8.2
        |              THEN CAST(((2 + x)*31 + (1 + y)*17) % 23 AS DOUBLE)
        |              ELSE -1.0 END AS v
        |  FROM cropd)
        |SELECT test_case, x, y, round(v, 6) AS v_r
        |FROM (SELECT * FROM hard UNION ALL SELECT * FROM blend
        |      UNION ALL SELECT * FROM crop)""".stripMargin,
    "q_warp_gcp" ->
      // dst (9×8, northUp(0,8,1,1)) centers (gx,gy)=(x+0.5, 7.5−y) pushed
      // through the same geo→pixel maps the GCPs were generated from;
      // nearest = floor, outside 12×10 → −1
      """WITH d AS (
        |  SELECT xx.x, yy.y, xx.x + 0.5 AS gx, 7.5 - yy.y AS gy
        |  FROM (SELECT unnest(generate_series(0, 8)) AS x) xx,
        |       (SELECT unnest(generate_series(0, 7)) AS y) yy),
        |m AS (
        |  SELECT 'poly1' AS test_case, x, y,
        |         0.38 + 1.29*gx + 0.11*gy AS px,
        |         0.166 + 1.13*gy + 0.051*gx AS py FROM d
        |  UNION ALL
        |  SELECT 'tps', x, y,
        |         0.38 + 1.29*gx + 0.11*gy,
        |         0.166 + 1.13*gy + 0.051*gx FROM d
        |  UNION ALL
        |  SELECT 'poly2', x, y,
        |         0.31 + 1.19*gx + 0.031*gy + 0.021*gx*gx,
        |         0.13 + 1.17*gy + 0.023*gx + 0.017*gy*gy FROM d
        |  UNION ALL
        |  SELECT 'poly3', x, y,
        |         0.221 + 1.11*gx + 0.041*gy + 0.016*gx*gx + 0.0031*gx*gx*gx,
        |         0.279 + 1.07*gy + 0.029*gx + 0.011*gy*gy + 0.0023*gy*gy*gy FROM d)
        |SELECT test_case, x, y,
        |  CASE WHEN floor(px) BETWEEN 0 AND 11 AND floor(py) BETWEEN 0 AND 9
        |       THEN CAST((CAST(floor(px) AS INT)*31 + CAST(floor(py) AS INT)*17) % 23 AS DOUBLE)
        |       ELSE -1.0 END AS v
        |FROM m""".stripMargin,
    "q_warp_nodata" ->
      // masked warp: src v = (x*31+y*17)%23, srcNoData = 5; nearest 1:1,
      // aligned 2× average over valid pixels, half-shift bilinear = mean of
      // the valid 4-neighborhood (uniform 0.25 weights renormalized)
      """WITH src AS (
        |  SELECT xx.x, yy.y, CAST((xx.x*31 + yy.y*17) % 23 AS DOUBLE) AS v
        |  FROM (SELECT unnest(generate_series(0, 11)) AS x) xx,
        |       (SELECT unnest(generate_series(0, 9)) AS y) yy),
        |near AS (
        |  SELECT 'nearest' AS kernel, x, y,
        |         CASE WHEN v = 5 THEN -1.0 ELSE v END AS v FROM src),
        |avg_dst AS (
        |  SELECT xx.x, yy.y FROM (SELECT unnest(generate_series(0, 5)) AS x) xx,
        |                          (SELECT unnest(generate_series(0, 4)) AS y) yy),
        |avgk AS (
        |  SELECT 'average' AS kernel, d.x, d.y,
        |         COALESCE(avg(s.v) FILTER (WHERE s.v <> 5), -1.0) AS v
        |  FROM avg_dst d JOIN src s ON s.x // 2 = d.x AND s.y // 2 = d.y
        |  GROUP BY d.x, d.y),
        |bil_dst AS (
        |  SELECT xx.x, yy.y FROM (SELECT unnest(generate_series(0, 10)) AS x) xx,
        |                          (SELECT unnest(generate_series(0, 8)) AS y) yy),
        |bilk AS (
        |  SELECT 'bilinear' AS kernel, d.x, d.y,
        |         COALESCE(avg(s.v) FILTER (WHERE s.v <> 5), -1.0) AS v
        |  FROM bil_dst d JOIN src s ON s.x BETWEEN d.x AND d.x + 1
        |                           AND s.y BETWEEN d.y AND d.y + 1
        |  GROUP BY d.x, d.y)
        |SELECT kernel, x, y, round(v, 6) AS v_r
        |FROM (SELECT * FROM near UNION ALL SELECT * FROM avgk
        |      UNION ALL SELECT * FROM bilk)""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_agg_empty" ->
      """SELECT count(*) AS cnt, max(l_quantity) AS mx, min(l_quantity) AS mn,
        |  sum(l_quantity) AS sm, avg(l_quantity) AS av,
        |  count(DISTINCT l_returnflag) AS n_distinct
        |FROM lineitem WHERE l_quantity < -1""".stripMargin,
    "q_count_star" ->
      """SELECT 'lineitem' AS tbl, count(*) AS n FROM lineitem
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |UNION ALL SELECT 'customer', count(*) FROM customer""".stripMargin,
    "q_count_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS d_part,
        |       count(DISTINCT l_suppkey) AS d_supp,
        |       count(l_orderkey) AS n_nonnull
        |FROM lineitem""".stripMargin,
    "q_distinct_order" ->
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1 NULLS FIRST",
    "q_filter_pred" ->
      """SELECT p_partkey, p_brand, p_size FROM part
        |WHERE p_size BETWEEN 10 AND 20 AND p_type ILIKE '%econ%'
        |  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3', 'Brand#13')""".stripMargin,
    "q_substr_cast" ->
      """SELECT p_partkey,
        |  substr(p_name, CAST(greatest(length(p_name) - 5 + 1, 1) AS BIGINT), 5) AS tail5,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_i,
        |  p_brand || '#' || p_type AS label
        |FROM part""".stripMargin,
    "q_multi_join" ->
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_orders,
        |       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1, 2""".stripMargin,
    "q_random_fid" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderkey IN (7, 4135, 14113)""".stripMargin,
    "q_star_expansion" -> "SELECT * FROM region",
    "q_left_join_first" ->
      """SELECT c_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
        |         row_number() OVER (PARTITION BY c.c_custkey
        |                            ORDER BY o.o_orderkey ASC NULLS LAST) AS rn
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |) WHERE rn = 1""".stripMargin,
    "q_union_all" ->
      """SELECT c_custkey AS id, c_acctbal AS bal, c_mktsegment AS seg FROM customer
        |UNION ALL BY NAME
        |SELECT s_suppkey AS id, s_acctbal AS bal FROM supplier""".stripMargin,
    "q_topk_order" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
    "q_hstore" ->
      """SELECT event_id, CAST(user_id AS VARCHAR) AS user_val
        |FROM events WHERE event_id < 100""".stripMargin,
    "q_window" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_c
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q_avg_datetime" ->
      """SELECT event_type,
        |  strftime(to_timestamp(CAST(floor(avg(epoch(ts))) AS BIGINT)),
        |           '%Y/%m/%d %H:%M:%S') AS avg_ts,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q_events_hourly" ->
      """SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_cell_of" ->
      s"""WITH $docPointsSql
        |SELECT pid,
        |  CAST(12 AS BIGINT) * 4503599627370496 +
        |  CAST(least(greatest(floor(((lon + 180.0) / 360.0) * 4096.0), 0), 4095) AS BIGINT) * 67108864 +
        |  CAST(least(greatest(floor(((lat + 90.0) / 180.0) * 4096.0), 0), 4095) AS BIGINT) AS cell
        |FROM pts""".stripMargin,
    "q_spatial_join" ->
      s"""WITH $docPointsSql,
        |edges(zone_id, x1, y1, x2, y2) AS (VALUES
        |    $zoneEdgesValues
        |),
        |crossings AS (
        |  SELECT p.pid, e.zone_id,
        |    CASE WHEN ((e.y1 <= p.lat AND e.y2 > p.lat) OR (e.y2 <= p.lat AND e.y1 > p.lat))
        |          AND (e.x1 + (p.lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)) > p.lon
        |         THEN 1 ELSE 0 END AS c
        |  FROM pts p, edges e
        |)
        |SELECT pid, zone_id FROM crossings GROUP BY pid, zone_id HAVING sum(c) % 2 = 1""".stripMargin,
    "q_knn" ->
      s"""WITH $docPointsSql,
        |q(qid, qlon, qlat) AS (VALUES
        |  (0, 2.35, 48.85), (1, -122.4, 37.78), (2, 151.2, -33.86),
        |  (3, 0.01, 0.01), (4, 139.69, 35.68)),
        |dists AS (
        |  SELECT q.qid, p.pid,
        |    sqrt((p.lon - q.qlon) * (p.lon - q.qlon) + (p.lat - q.qlat) * (p.lat - q.qlat)) AS dist
        |  FROM pts p, q),
        |ranked AS (
        |  SELECT qid, pid, dist,
        |         row_number() OVER (PARTITION BY qid ORDER BY dist, pid) AS rn
        |  FROM dists)
        |SELECT qid, pid, dist FROM ranked WHERE rn <= 5""".stripMargin,
    "q_tile_assign" ->
      s"""WITH $docPointsSql
        |SELECT CAST(floor(((lon + 180.0) / 0.1) / 256.0) AS BIGINT) AS tile_x,
        |       CAST(floor(((90.0 - lat) / 0.1) / 256.0) AS BIGINT) AS tile_y,
        |       count(*) AS n_points, min(pid) AS min_pid
        |FROM pts GROUP BY 1, 2""".stripMargin,
    "q_geo_extract" ->
      """SELECT doc_id,
        |  CAST(doc_id % 180 - 90 AS DOUBLE) AS lat,
        |  CAST(doc_id % 360 - 180 AS DOUBLE) AS lon
        |FROM documents""".stripMargin,
    "q_rasterize_checksum" ->
      """SELECT * FROM (VALUES
        |  ('rasterize_1', 6452), ('rasterize_2_all_touched', 121),
        |  ('rasterize_3_burn_z', 15006), ('rasterize_4_attribute', 16265))
        |AS t(test_case, checksum)""".stripMargin,
    "q_polygonize" ->
      """SELECT * FROM (VALUES
        |  (107, 3600), (123, 21600), (115, 7200), (115, 3600), (140, 3600),
        |  (148, 3600), (123, 3600), (140, 3600), (156, 28800), (100, 3600),
        |  (101, 3600), (102, 3600), (103, 7200))
        |AS t(dn, area)""".stripMargin,
    "q_raster_stats" ->
      "SELECT 35 AS n_pixels, 100 AS min_v, 156 AS max_v, 4554 AS sum_v",
    "q_st_functions" -> {
      val rows = graft.fixtures.PolyFixture.rows.map { r =>
        val g = Geom.fromWkt(r.wkt).asInstanceOf[GPolygon]
        val area = graft.core.GeomOps.area(g)
        val len = graft.core.GeomOps.length(g)
        f"(${r.easId}, ${math.round(area * 10) / 10.0}%.1f, ${math.round(len * 10) / 10.0}%.1f, 'POLYGON')"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $rows) AS t(eas_id, area, perimeter, gtype)"
    },
    "q_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, n_chars FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT min(doc_id) AS doc_id, min(n_chars) AS n_chars
        |FROM all_docs GROUP BY text""".stripMargin,
    "q_dedup_cluster" ->
      // exact-Jaccard pairs (same bimodal-corpus argument as
      // q_dedup_minhash) + connected components via a recursive CTE;
      // cluster = min reachable doc id (self included)
      """WITH RECURSIVE all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' x' FROM documents WHERE doc_id % 7 = 0),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(text) - 4), i -> substr(text, CAST(i AS INT), 5)))) AS g
        |  FROM all_docs WHERE len(text) >= 5),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (
        |  SELECT ia, ib FROM inter
        |  JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
        |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.7),
        |e AS (SELECT ia AS a, ib AS b FROM j UNION ALL SELECT ib, ia FROM j),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM all_docs
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b)
        |SELECT id, min(r) AS cluster FROM reach GROUP BY id""".stripMargin,
    "q_dedup_minhash" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' x' FROM documents WHERE doc_id % 7 = 0),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(text) - 4), i -> substr(text, CAST(i AS INT), 5)))) AS g
        |  FROM all_docs WHERE len(text) >= 5),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (
        |  SELECT ia, ib, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
        |  FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib)
        |SELECT ia AS id_a, ib AS id_b FROM j WHERE jac >= 0.7""".stripMargin,
    "q_ngram_jaccard" ->
      // word-trigram Jaccard recomputed set-theoretically (the engine
      // hashes shingles; distinct-hash cardinalities equal distinct-string
      // cardinalities, so the ratios match exactly)
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000, text || ' extra' FROM documents WHERE doc_id % 31 = 0),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
        |  FROM all_docs),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' ||
        |         w[CAST(i AS INT) + 2]))) AS g
        |  FROM toks WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT ia, ib, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
        |  FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib)
        |SELECT ia AS id_a, ib AS id_b, round(jac, 6) AS jac_r
        |FROM j WHERE jac >= 0.8""".stripMargin,
    "q_grid_metrics" ->
      s"""WITH $docPointsSql
        |SELECT CAST(5 AS BIGINT) * 4503599627370496 +
        |  CAST(least(greatest(floor(((lon + 180.0) / 360.0) * 32.0), 0), 31) AS BIGINT) * 67108864 +
        |  CAST(least(greatest(floor(((lat + 90.0) / 180.0) * 32.0), 0), 31) AS BIGINT) AS cell,
        |  count(*) AS n,
        |  min(CAST(pid % 100 AS DOUBLE)) AS min_v,
        |  max(CAST(pid % 100 AS DOUBLE)) AS max_v,
        |  max(CAST(pid % 100 AS DOUBLE)) - min(CAST(pid % 100 AS DOUBLE)) AS range_v,
        |  avg(CAST(pid % 100 AS DOUBLE)) AS avg_v
        |FROM pts GROUP BY 1""".stripMargin,
    "q_idw" ->
      s"""WITH $docPointsSql,
        |q(qid, qlon, qlat) AS (VALUES
        |  (0, 2.35, 48.85), (1, -122.4, 37.78), (2, 151.2, -33.86),
        |  (3, 0.01, 0.01), (4, 139.69, 35.68)),
        |d AS (
        |  SELECT q.qid, p.pid, p.lon, p.lat, CAST(p.pid % 100 AS DOUBLE) AS v,
        |    sqrt((p.lon - q.qlon) * (p.lon - q.qlon) + (p.lat - q.qlat) * (p.lat - q.qlat)) AS dist
        |  FROM pts p, q),
        |r AS (
        |  SELECT *, dist * dist AS r2,
        |         row_number() OVER (PARTITION BY qid ORDER BY dist, lon, lat) AS rn
        |  FROM d)
        |SELECT qid, round(sum((1.0 / r2) * v) / sum(1.0 / r2), 6) AS idw_r
        |FROM r WHERE rn <= 8 GROUP BY qid""".stripMargin,
    "q_grid_moving_avg" ->
      s"""WITH $docPointsSql,
        |q(qid, qlon, qlat) AS (VALUES
        |  (0, 2.35, 48.85), (1, -122.4, 37.78), (2, 151.2, -33.86),
        |  (3, 0.01, 0.01), (4, 139.69, 35.68)),
        |cand AS (
        |  SELECT q.qid, p.pid, (p.lon - q.qlon) AS rx, (p.lat - q.qlat) AS ry,
        |         CAST(p.pid % 100 AS DOUBLE) AS v
        |  FROM pts p, q
        |  WHERE (p.lon - q.qlon) * (p.lon - q.qlon) * 4.0
        |      + (p.lat - q.qlat) * (p.lat - q.qlat) * 9.0 <= 36.0)
        |SELECT q.qid, round(CASE WHEN c.n IS NULL OR c.n < 1 THEN -1.0
        |                         ELSE c.s / c.n END, 6) AS avg_r
        |FROM q LEFT JOIN (SELECT qid, sum(v) AS s, count(*) AS n
        |                  FROM cand GROUP BY qid) c ON c.qid = q.qid""".stripMargin,
    "q_grid_nearest" ->
      s"""WITH $docPointsSql,
        |q(qid, qlon, qlat) AS (VALUES
        |  (0, 2.35, 48.85), (1, -122.4, 37.78), (2, 151.2, -33.86),
        |  (3, 0.01, 0.01), (4, 139.69, 35.68)),
        |cand AS (
        |  SELECT q.qid, p.lon, p.lat, CAST(p.pid % 100 AS DOUBLE) AS v,
        |    (p.lon - q.qlon) * (p.lon - q.qlon) + (p.lat - q.qlat) * (p.lat - q.qlat) AS r2
        |  FROM pts p, q
        |  WHERE (p.lon - q.qlon) * (p.lon - q.qlon) * 2.25
        |      + (p.lat - q.qlat) * (p.lat - q.qlat) * 2.25 <= 5.0625),
        |best AS (
        |  SELECT qid, v, row_number() OVER (PARTITION BY qid ORDER BY r2, lon, lat) AS rn
        |  FROM cand)
        |SELECT q.qid, round(coalesce(b.v, -1.0), 6) AS nn_r
        |FROM q LEFT JOIN (SELECT qid, v FROM best WHERE rn = 1) b ON b.qid = q.qid""".stripMargin,
    "q_grid_linear" ->
      // planar field: linear interpolation returns the plane exactly;
      // plane values at the 5 query sites (2.5x − 1.25y + 3)
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(5.625 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(6.625 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(20.875 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), CAST(8.25 AS DOUBLE)),
        |  (CAST(4 AS BIGINT), CAST(-3.0 AS DOUBLE)))
        |AS t(qid, lin_r)""".stripMargin,
    "q_overview" ->
      // reference AVERAGE Byte rounding incl. edge blocks:
      // (total + count/2) / count (overview.cpp:390)
      """SELECT * FROM (VALUES
        |  (0,0,119), (1,0,126), (2,0,128), (0,1,132), (1,1,130), (2,1,123),
        |  (0,2,142), (1,2,138), (2,2,117), (0,3,156), (1,3,130), (2,3,103))
        |AS t(x, y, v)""".stripMargin,
    "q_hillshade" ->
      s"""$demOracleCte
        |SELECT x, y, round(CASE WHEN cang <= 0 THEN 1.0 ELSE 1.0 + 254.0 * cang END, 6) AS hs_r
        |FROM (SELECT x, y,
        |  (sin(radians(45.0)) - (cos(radians(45.0)) * 0.125) * sqrt(gx*gx + gy*gy) *
        |   sin(atan2(gy, gx) - radians(315.0))) / sqrt(1 + 0.015625 * (gx*gx + gy*gy)) AS cang
        |  FROM calc)""".stripMargin,
    "q_slope" ->
      s"""$demOracleCte
        |SELECT x, y, round(atan(sqrt(gx*gx + gy*gy) / 8.0) * (180.0 / pi()), 6) AS sl_r
        |FROM calc""".stripMargin,
    "q_translate" -> {
      val gridValues = polyGrid.zipWithIndex
        .map { case (v, i) => s"($i, $v)" }.mkString(", ")
      s"""WITH grid(i, v) AS (VALUES $gridValues),
        |g AS (SELECT i % 5 AS x, i // 5 AS y, v FROM grid),
        |win AS (SELECT x - 1 AS x, y - 1 AS y, v FROM g
        |        WHERE x BETWEEN 1 AND 3 AND y BETWEEN 1 AND 5),
        |dst AS (SELECT dx.x, dy.y
        |        FROM (SELECT unnest(generate_series(0, 5)) AS x) dx,
        |             (SELECT unnest(generate_series(0, 9)) AS y) dy),
        |sampled AS (
        |  SELECT d.x, d.y, w.v
        |  FROM dst d JOIN win w
        |    ON w.x = least(CAST(floor((d.x + 0.5) * 3.0 / 6) AS INT), 2)
        |   AND w.y = least(CAST(floor((d.y + 0.5) * 5.0 / 10) AS INT), 4))
        |SELECT x, y,
        |  CASE WHEN s < 0 THEN 0 WHEN s > 255 THEN 255
        |       ELSE CAST(trunc(s) AS INT) END AS v
        |FROM (SELECT x, y,
        |        (v - 100.0) * ((255.0 - 0.0) / (156.0 - 100.0)) + 0.0 + 0.5 AS s
        |      FROM sampled)""".stripMargin
    },
    "q_proximity" -> {
      val gridValues = polyGrid.zipWithIndex
        .map { case (v, i) => s"($i, $v)" }.mkString(", ")
      s"""WITH grid(i, v) AS (VALUES $gridValues),
        |g AS (SELECT i % 5 AS x, i // 5 AS y, v FROM grid),
        |t AS (SELECT x, y FROM g WHERE v = 156),
        |d AS (
        |  SELECT g.x, g.y,
        |    min(sqrt(CAST((g.x - t.x) * (g.x - t.x) + (g.y - t.y) * (g.y - t.y) AS DOUBLE))) AS dist
        |  FROM g, t GROUP BY g.x, g.y)
        |SELECT x, y, round(CASE WHEN dist > 10.0 THEN -1.0 ELSE dist END, 6) AS d_r
        |FROM d""".stripMargin
    },
    "q_sieve" ->
      """SELECT * FROM (VALUES
        |  ('sieve_1_4conn', 364), ('sieve_2_8conn', 370),
        |  ('sieve_3_unmergable', 451))
        |AS t(test_case, checksum)""".stripMargin,
    "q_warp" -> {
      val gridValues = polyGrid.zipWithIndex
        .map { case (v, i) => s"($i, $v)" }.mkString(", ")
      // mirrors GeoTransform composition exactly: dst (8x10, origin
      // (-0.5, 7.5), px 0.7) pulled from src (5x7, north-up unit pixels):
      // gx = -0.5 + (dx+0.5)*0.7 ; gy = 7.5 - (dy+0.5)*0.7 ;
      // px = gx ; py = 7 - gy ; nearest = floor
      s"""WITH grid(i, v) AS (VALUES $gridValues),
        |g AS (SELECT i % 5 AS x, i // 5 AS y, v FROM grid),
        |dst AS (SELECT dx.x, dy.y
        |        FROM (SELECT unnest(generate_series(0, 7)) AS x) dx,
        |             (SELECT unnest(generate_series(0, 9)) AS y) dy),
        |px AS (SELECT x, y,
        |         CAST(floor(-0.5 + (x + 0.5) * 0.7 + (y + 0.5) * 0.0) AS INT) AS ix,
        |         CAST(floor(7.0 - (7.5 + (y + 0.5) * (-0.7))) AS INT) AS iy
        |       FROM dst)
        |SELECT p.x, p.y,
        |  CASE WHEN p.ix BETWEEN 0 AND 4 AND p.iy BETWEEN 0 AND 6
        |       THEN CAST(g.v AS DOUBLE) ELSE -1.0 END AS v
        |FROM px p LEFT JOIN g
        |  ON g.x = p.ix AND g.y = p.iy""".stripMargin
    },
    "q_histogram" ->
      """SELECT CAST(least(floor((l_quantity - 1.0) / 50.0 * 8.0), 7.0) AS BIGINT) AS bucket,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+'))
        |    - (CASE WHEN len(trim(text)) = 0 THEN 1 ELSE 0 END) AS n_tokens,
        |  len(list_filter(regexp_split_to_array(text, '[^\p{L}\p{N}]+'), t -> len(t) > 0))
        |    + len(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS n_units,
        |  round(CASE WHEN len(text) = 0 THEN 0.0 ELSE
        |    CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE) / len(text) END, 6) AS punct_ratio,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |    CAST(len(list_filter(toks, t -> list_contains(
        |      ['the','and','of','to','in','is','that','it','for','was','with','are','this','you','a','on','as','be','at','by'], t))) AS DOUBLE)
        |    / len(toks) END, 6) AS stop_ratio,
        |  round(CASE WHEN len(wtoks) = 0 THEN 0.0 ELSE
        |    CAST(list_sum(list_transform(wtoks, t -> len(t))) AS DOUBLE) / len(wtoks) END, 6) AS mean_wlen
        |FROM (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z]+'), t -> len(t) > 0) AS toks,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0) AS wtoks
        |  FROM documents)""".stripMargin,
    "q_ann_cosine" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 3),
        |cos AS (
        |  SELECT q.qid, e.vec_id AS id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cosine
        |  FROM embeddings e, q),
        |ranked AS (
        |  SELECT qid, id, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rn
        |  FROM cos)
        |SELECT qid, id, round(cosine, 6) AS cos_r FROM ranked WHERE rn <= 5""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |x AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx
        |  FROM s)
        |SELECT user_id, sess_idx, count(*) AS n_events,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start
        |FROM x GROUP BY 1, 2""".stripMargin,
    "q_langid" ->
      // SQL re-derivation of TextRt.langId: lowercase letter tokens,
      // stopword-profile hit counts, first-profile-wins ties, "und" when
      // best evidence < 5% of tokens.
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang, len(toks) AS nt,
        |    len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','are','this','you'], x))) AS h_en,
        |    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','den','von','sie','auf','werden','im'], x))) AS h_de,
        |    len(list_filter(toks, x -> list_contains(['le','la','les','et','des','est','une','dans','que','pour','qui','sur','pas','vous'], x))) AS h_fr,
        |    len(list_filter(toks, x -> list_contains(['el','la','los','las','que','de','en','una','por','con','para','del','se','es'], x))) AS h_es,
        |    len(list_filter(toks, x -> list_contains(['que','uma','para','com','os','das','dos','em','um','se','mais','como','foi','por'], x))) AS h_pt,
        |    len(list_filter(toks, x -> list_contains(['и','в','не','на','что','это','как','он','по','из','она','так','его','за'], x))) AS h_ru
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN m = 0 OR m * 20 < nt THEN 'und'
        |       WHEN h_en = m THEN 'en' WHEN h_de = m THEN 'de'
        |       WHEN h_fr = m THEN 'fr' WHEN h_es = m THEN 'es'
        |       WHEN h_pt = m THEN 'pt' ELSE 'ru' END AS lang_guess,
        |  lang AS lang_declared
        |FROM (SELECT *, greatest(h_en, h_de, h_fr, h_es, h_pt, h_ru) AS m FROM h)""".stripMargin,
    "q_fingerprint" -> graft.fixtures.FingerprintOracle.valuesSql,
    "q_geom_misc" ->
      """SELECT CAST(12.0 AS DOUBLE) AS boundary_len,
        |       CAST(16.0 AS DOUBLE) AS delaunay_area,
        |       1 AS pos_inside""".stripMargin,
    "q_curve" ->
      """SELECT * FROM (VALUES
        |  ('pip_inside_45', 1, 1), ('pip_outside_45', 0, 1),
        |  ('two_arc_circle', 1, 1), ('reversed_circle', 1, 1),
        |  ('not_circle', 0, 1))
        |AS t(test_case, flag, area_ok)""".stripMargin,
    "q_transform_utm" ->
      // pinned from tools/gen_proj_oracle.py --values (independent
      // PROJ.4-style Python port; <0.1 mm agreement with the Scala
      // Snyder kernels, margins to the rounding boundary checked)
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(32631 AS INTEGER), CAST(452482.5327 AS DOUBLE), CAST(5411717.1769 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(32631 AS INTEGER), CAST(692235.6602 AS DOUBLE), CAST(4796857.6774 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), CAST(32631 AS INTEGER), CAST(300683.7657 AS DOUBLE), CAST(5710163.7581 AS DOUBLE)),
        |  (CAST(4 AS BIGINT), CAST(32733 AS INTEGER), CAST(305332.5614 AS DOUBLE), CAST(9023480.7892 AS DOUBLE)),
        |  (CAST(5 AS BIGINT), CAST(32733 AS INTEGER), CAST(713864.149 AS DOUBLE), CAST(7502589.4443 AS DOUBLE)),
        |  (CAST(6 AS BIGINT), CAST(25832 AS INTEGER), CAST(477118.9256 AS DOUBLE), CAST(5550910.1484 AS DOUBLE)),
        |  (CAST(7 AS BIGINT), CAST(27700 AS INTEGER), CAST(530043.1979 AS DOUBLE), CAST(180358.2087 AS DOUBLE)),
        |  (CAST(8 AS BIGINT), CAST(27700 AS INTEGER), CAST(325897.2215 AS DOUBLE), CAST(674001.2019 AS DOUBLE)),
        |  (CAST(9 AS BIGINT), CAST(2154 AS INTEGER), CAST(652469.0227 AS DOUBLE), CAST(6862035.2594 AS DOUBLE)),
        |  (CAST(10 AS BIGINT), CAST(2154 AS INTEGER), CAST(355577.8016 AS DOUBLE), CAST(6689723.1029 AS DOUBLE)),
        |  (CAST(11 AS BIGINT), CAST(3413 AS INTEGER), CAST(0.0 AS DOUBLE), CAST(-2187927.6493 AS DOUBLE)),
        |  (CAST(12 AS BIGINT), CAST(3413 AS INTEGER), CAST(337631.631 AS DOUBLE), CAST(-1260058.4012 AS DOUBLE)),
        |  (CAST(13 AS BIGINT), CAST(3031 AS INTEGER), CAST(0.0 AS DOUBLE), CAST(1638783.2384 AS DOUBLE)),
        |  (CAST(14 AS BIGINT), CAST(3031 AS INTEGER), CAST(305467.1627 AS DOUBLE), CAST(-1289201.5377 AS DOUBLE)),
        |  (CAST(15 AS BIGINT), CAST(5041 AS INTEGER), CAST(2096454.1638 AS DOUBLE), CAST(1452981.2545 AS DOUBLE)),
        |  (CAST(16 AS BIGINT), CAST(3035 AS INTEGER), CAST(4321000.0 AS DOUBLE), CAST(3210000.0 AS DOUBLE)),
        |  (CAST(17 AS BIGINT), CAST(3035 AS INTEGER), CAST(3159766.9306 AS DOUBLE), CAST(2030142.1132 AS DOUBLE)),
        |  (CAST(18 AS BIGINT), CAST(2154 AS INTEGER), CAST(852037.9367 AS DOUBLE), CAST(6870250.2248 AS DOUBLE)),
        |  (CAST(19 AS BIGINT), CAST(4326 AS INTEGER), CAST(-0.12835398 AS DOUBLE), CAST(51.50399083 AS DOUBLE)),
        |  (CAST(20 AS BIGINT), CAST(5070 AS INTEGER), CAST(0.0 AS DOUBLE), CAST(1326800.7964 AS DOUBLE)),
        |  (CAST(21 AS BIGINT), CAST(5070 AS INTEGER), CAST(-2019412.2893 AS DOUBLE), CAST(1457943.8761 AS DOUBLE)))
        |AS t(pid, epsg, x_r, y_r)""".stripMargin,
    "q_transform_srs" ->
      // pinned from tools/gen_proj_oracle.py --srs (independent Python
      // port; custom PROJ.4/WKT CRSes outside the EPSG dispatch table)
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'gk3', CAST(3513306.3899 AS DOUBLE), CAST(5405553.1999 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), 'gk3', CAST(3692108.6 AS DOUBLE), CAST(5337582.5562 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), 'spcs', CAST(1977840.751 AS DOUBLE), CAST(561035.7933 AS DOUBLE)),
        |  (CAST(4 AS BIGINT), 'spcs', CAST(1843740.0688 AS DOUBLE), CAST(603372.1335 AS DOUBLE)),
        |  (CAST(5 AS BIGINT), 'gls', CAST(0.0 AS DOUBLE), CAST(-1971339.5158 AS DOUBLE)),
        |  (CAST(6 AS BIGINT), 'gls', CAST(-626990.1657 AS DOUBLE), CAST(-2782174.7804 AS DOUBLE)),
        |  (CAST(7 AS BIGINT), 'naa', CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |  (CAST(8 AS BIGINT), 'naa', CAST(1662981.9942 AS DOUBLE), CAST(177633.3241 AS DOUBLE)),
        |  (CAST(9 AS BIGINT), 'nalaea', CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |  (CAST(10 AS BIGINT), 'nalaea', CAST(-1652141.9882 AS DOUBLE), CAST(522531.3308 AS DOUBLE)),
        |  (CAST(11 AS BIGINT), 'bngwkt', CAST(530043.1979 AS DOUBLE), CAST(180358.2087 AS DOUBLE)),
        |  (CAST(12 AS BIGINT), 'bngwkt', CAST(325897.2215 AS DOUBLE), CAST(674001.2019 AS DOUBLE)),
        |  (CAST(13 AS BIGINT), 'spcsft', CAST(6488965.8639 AS DOUBLE), CAST(1840664.9318 AS DOUBLE)),
        |  (CAST(14 AS BIGINT), 'spcsft', CAST(6049003.8757 AS DOUBLE), CAST(1979563.4081 AS DOUBLE)),
        |  (CAST(15 AS BIGINT), 'spcswkt', CAST(1927299.1973 AS DOUBLE), CAST(700248.2651 AS DOUBLE)),
        |  (CAST(16 AS BIGINT), 'spcswkt', CAST(1487337.209 AS DOUBLE), CAST(839146.7414 AS DOUBLE)))
        |AS t(pid, tag, x_r, y_r)""".stripMargin,
    "q_warp_utm" -> {
      // pinned from tools/gen_proj_oracle.py --warp (independent
      // PROJ.4-style tmerc inverse; row-major dx-fastest)
      val vs = "0,16,1,9,2,10,3,11,19,12,20,22,15,0,17,10,18,3,19,4,12,5,13,6,14,22,15,17,11,4,12,20,13,21,6,22,7,0,8,16,9,17,5,21,6,14,7,15,0,16,1,17,2,10,3,11,22,15,0,8,1,9,17,10,18,3,19,4,20,5,16,9,17,2,18,3,11,4,12,20,13,21,6,22,10,3,11,19,12,20,5,21,6,14,7,15,0,16,4,20,5,13,6,14,22,15,0,8,1,9,17,10,4,20,5,13,6,8,16,9,17,2,18,3,11,4,21,14,22,7,0,8,16,9,17,19,12,20,5,13,15,0,16,1,9,2,10,18,11,19,4,14,22,7,9,17,10,18,3,19,4,12,5,13,21,14,22,1,3,11,4,12,20,13,21,6,22,7,15,8,16,1,20,5,21,6,14,7,15,0,16,1,9,2,10,18,14,22,15,0,8,1,9,17,10,18,3,19,4,12,8,16,9,17,2,18,3,11,4,12,20,5,21,6,2,10,3,11,19,12,20,5,21,6,14,22,15,0,19,4,20,5,13,6,14,22,7,0,8,16,9,17,19,4,20,5,13,0,8,16,1,17,2,10,3,11,13,21,14,22,7,0,8,16,1,11,19,4,12,5"
      s"""WITH v(i, val) AS (
        |  SELECT unnest(range(280)), unnest([$vs]))
        |SELECT CAST(i % 14 AS INTEGER) AS x, CAST(i // 14 AS INTEGER) AS y,
        |       CAST(val AS DOUBLE) AS v FROM v""".stripMargin
    },
    "q_geojson" ->
      """SELECT * FROM (VALUES
        |  ('pt_json', '{"type":"Point","coordinates":[1.5,2.0]}',
        |   CAST(32.0 AS DOUBLE), CAST(16.0 AS DOUBLE)),
        |  ('poly_json', '{"type":"Polygon","coordinates":[[[0.0,0.0],[2.0,0.0],[2.0,2.0],[0.0,2.0],[0.0,0.0]]]}',
        |   CAST(32.0 AS DOUBLE), CAST(16.0 AS DOUBLE)),
        |  ('pt_gml', '<gml:Point><gml:coordinates>1.5,2</gml:coordinates></gml:Point>',
        |   CAST(32.0 AS DOUBLE), CAST(16.0 AS DOUBLE)))
        |AS t(name, doc, json_area, gml_area)""".stripMargin,
    "q_projwin" ->
      // src pixels x 2..6, y 2..5 of v = x*100 + y
      """SELECT x - 2 AS x, y - 2 AS y, CAST(x * 100 + y AS INTEGER) AS v
        |FROM (SELECT unnest(generate_series(2, 6)) AS x),
        |     (SELECT unnest(generate_series(2, 5)) AS y)""".stripMargin,
    "q_overview_subst" ->
      // AVERAGE block (total+2)/4 of v = x*7 + y*3 over 2x2 blocks:
      // total = 4*(14x+3+6y)+... closed form: v(x,y)=2x*7+2y*3 grid:
      // block sum = (14x)+(14x+7)+(14x+6y*... compute directly
      """SELECT x, y,
        |  CAST(((2*x*7 + y*2*3) + (2*x*7+7 + y*2*3) + (2*x*7 + (y*2+1)*3)
        |        + (2*x*7+7 + (y*2+1)*3) + 2) // 4 AS INTEGER) AS v,
        |  0 AS lvl
        |FROM (SELECT unnest(generate_series(0, 7)) AS x),
        |     (SELECT unnest(generate_series(0, 3)) AS y)""".stripMargin,
    "q_translate_complex" ->
      // pinned from tools/gen_complex_oracle.py (independent Python
      // recomputation of the CopyWords complex casts, interleaved
      // checksum, and real-component statistics)
      """SELECT * FROM (VALUES
        |  ('cs_cfloat32', CAST(63067.0 AS DOUBLE)),
        |  ('cs_cint16', CAST(62939.0 AS DOUBLE)),
        |  ('cs_real_int16', CAST(5480.0 AS DOUBLE)),
        |  ('cs_cint32_promoted', CAST(5678.0 AS DOUBLE)),
        |  ('stat_min', CAST(-7.0 AS DOUBLE)),
        |  ('stat_max', CAST(26.0 AS DOUBLE)),
        |  ('stat_mean', CAST(9.5 AS DOUBLE)),
        |  ('stat_std', CAST(9.949874 AS DOUBLE))
        |) AS t(metric, value)""".stripMargin,
    "q_multimodal_decode" ->
      // pinned from tools/gen_multimodal_oracle.py (analytic band-luma
      // profile of the gradient PNGs — no image codec on the oracle path)
      """SELECT * FROM (VALUES
        |  (0, 0, CAST(0.118627 AS DOUBLE)),
        |  (0, 1, CAST(0.377591 AS DOUBLE)),
        |  (0, 2, CAST(0.635784 AS DOUBLE)),
        |  (0, 3, CAST(0.895238 AS DOUBLE)),
        |  (1, 0, CAST(0.115033 AS DOUBLE)),
        |  (1, 1, CAST(0.370261 AS DOUBLE)),
        |  (1, 2, CAST(0.625817 AS DOUBLE)),
        |  (1, 3, CAST(0.881373 AS DOUBLE)),
        |  (2, 0, CAST(0.099346 AS DOUBLE)),
        |  (2, 1, CAST(0.398693 AS DOUBLE)),
        |  (2, 2, CAST(0.699346 AS DOUBLE)),
        |  (2, 3, CAST(0.94902 AS DOUBLE))
        |) AS t(media_id, band, value)""".stripMargin,
    "q_complex_magphase" ->
      """SELECT * FROM (VALUES
        |  (0, 0, CAST(-2.6847 AS DOUBLE), CAST(-0.6292 AS DOUBLE)),
        |  (1, 0, CAST(2.6453 AS DOUBLE), CAST(0.496 AS DOUBLE)),
        |  (2, 0, CAST(-2.4185 AS DOUBLE), CAST(0.5771 AS DOUBLE)),
        |  (3, 0, CAST(-0.7902 AS DOUBLE), CAST(-1.7781 AS DOUBLE)),
        |  (0, 1, CAST(-2.7497 AS DOUBLE), CAST(-0.1289 AS DOUBLE)),
        |  (1, 1, CAST(1.9704 AS DOUBLE), CAST(1.8472 AS DOUBLE)),
        |  (2, 1, CAST(-2.4003 AS DOUBLE), CAST(-0.6546 AS DOUBLE)),
        |  (3, 1, CAST(-1.5387 AS DOUBLE), CAST(-1.154 AS DOUBLE)))
        |AS t(x, y, re_r, im_r)""".stripMargin,
    "q_dissolve" ->
      // closed-form dissolve: chain width (k−1)+1.4 = 2.4 + g%3 times
      // height 1+0.5g; group 5 = two disjoint unit squares
      """SELECT CAST(g AS BIGINT) AS g,
        |  CASE WHEN g = 5 THEN 'MULTIPOLYGON' ELSE 'POLYGON' END AS gtype,
        |  round(CAST(CASE WHEN g = 5 THEN 2.0
        |       ELSE (3.4 + (g % 3)) * (1 + 0.5 * g) END AS DOUBLE), 4) AS area_r,
        |  CAST(CASE WHEN g = 5 THEN 2 ELSE 1 END AS INTEGER) AS n_parts
        |FROM (SELECT unnest(generate_series(0, 5)) AS g)""".stripMargin,
    "q_polygonize_geom" ->
      """SELECT * FROM (VALUES
        |  ('grid', 9, CAST(9.0 AS DOUBLE)),
        |  ('donut', 2, CAST(36.0 AS DOUBLE)),
        |  ('dangle', 1, CAST(4.0 AS DOUBLE)))
        |AS t(name, n_faces, area_r)""".stripMargin,
    "q_makevalid" ->
      """SELECT * FROM (VALUES
        |  ('bad_hole', 1, CAST(64.0 AS DOUBLE)),
        |  ('bowtie', 2, CAST(2.0 AS DOUBLE)),
        |  ('hole_out', 2, CAST(16.0 AS DOUBLE)),
        |  ('overlap_lw', 2, CAST(4.0 AS DOUBLE)),
        |  ('overlap_st', 1, CAST(6.0 AS DOUBLE)))
        |AS t(name, n_faces, area_r)""".stripMargin,
    "q_force" ->
      // closed-form, reference semantics (ogrgeometryfactory.cpp:596-626
      // ring aggregation, :699-758 promote/wrap/pass-through): the merged
      // 2-tri polygon has one exterior (area 2) and one "hole" (area 0.5)
      """SELECT * FROM (VALUES
        |  ('closed_line', 'POLYGON', 1, CAST(6.0 AS DOUBLE)),
        |  ('gc_promote', 'MULTIPOLYGON', 2, CAST(2.5 AS DOUBLE)),
        |  ('line_pass', 'LINESTRING', 1, CAST(0.0 AS DOUBLE)),
        |  ('multi_keep', 'MULTIPOLYGON', 2, CAST(2.5 AS DOUBLE)),
        |  ('multi_merge', 'POLYGON', 1, CAST(1.5 AS DOUBLE)),
        |  ('point_pass', 'POINT', 1, CAST(0.0 AS DOUBLE)),
        |  ('poly_to_poly', 'POLYGON', 1, CAST(6.0 AS DOUBLE)),
        |  ('poly_wrap', 'MULTIPOLYGON', 1, CAST(6.0 AS DOUBLE)))
        |AS t(name, gtype, n_geoms, area_r)""".stripMargin,
    "q_buffer_concave" ->
      """SELECT 1 AS ok_dilate, CAST(16.0 AS DOUBLE) AS area_erode,
        |       1 AS in_reflex, 0 AS out_reflex""".stripMargin,
    "q_simplify_pt" ->
      """SELECT * FROM (VALUES
        |  ('noisy_square', 5, CAST(16.0 AS DOUBLE)),
        |  ('square_bigtol', 5, CAST(16.0 AS DOUBLE)),
        |  ('open_line', 3, CAST(0.0 AS DOUBLE)))
        |AS t(name, n_pts, area_r)""".stripMargin,
    "q_overlay" ->
      // closed-form axis-aligned rect overlap
      """WITH a AS (
        |  SELECT i AS id, (i % 4) * 3.0 AS x1, (i // 4) * 3.0 AS y1,
        |         (i % 4) * 3.0 + 2.6 AS x2, (i // 4) * 3.0 + 2.6 AS y2
        |  FROM (SELECT unnest(generate_series(0, 11)) AS i)),
        |b AS (
        |  SELECT i AS id, (i % 4) * 3.0 + 1.317 AS x1, (i // 4) * 3.0 + 1.113 AS y1,
        |         (i % 4) * 3.0 + 1.317 + 2.4 AS x2, (i // 4) * 3.0 + 1.113 + 2.2 AS y2
        |  FROM (SELECT unnest(generate_series(0, 11)) AS i)),
        |j AS (
        |  SELECT a.id AS lk, b.id AS rk,
        |         greatest(0, least(a.x2, b.x2) - greatest(a.x1, b.x1)) AS w,
        |         greatest(0, least(a.y2, b.y2) - greatest(a.y1, b.y1)) AS h
        |  FROM a, b)
        |SELECT CAST(lk AS BIGINT) AS left_key, CAST(rk AS BIGINT) AS right_key,
        |       round(w * h, 6) AS area_r
        |FROM j WHERE w > 0 AND h > 0""".stripMargin,
    "q_overlay_erase" ->
      // erase area = rect area − Σ overlaps (B rects are pairwise disjoint)
      """WITH a AS (
        |  SELECT i AS id, (i % 4) * 3.0 AS x1, (i // 4) * 3.0 AS y1,
        |         (i % 4) * 3.0 + 2.6 AS x2, (i // 4) * 3.0 + 2.6 AS y2
        |  FROM (SELECT unnest(generate_series(0, 11)) AS i)),
        |b AS (
        |  SELECT i AS id, (i % 4) * 3.0 + 1.317 AS x1, (i // 4) * 3.0 + 1.113 AS y1,
        |         (i % 4) * 3.0 + 1.317 + 2.4 AS x2, (i // 4) * 3.0 + 1.113 + 2.2 AS y2
        |  FROM (SELECT unnest(generate_series(0, 11)) AS i)),
        |ov AS (
        |  SELECT a.id AS lk,
        |         sum(greatest(0, least(a.x2, b.x2) - greatest(a.x1, b.x1)) *
        |             greatest(0, least(a.y2, b.y2) - greatest(a.y1, b.y1))) AS cut
        |  FROM a, b GROUP BY a.id)
        |SELECT CAST(lk AS BIGINT) AS left_key, round(2.6 * 2.6 - cut, 6) AS area_r
        |FROM ov WHERE 2.6 * 2.6 - cut > 1e-9""".stripMargin,
    "q_aspect" ->
      // atan2(dy, −dx) with dx = −gx, dy = −gy of the Horn CTE; azimuth
      // remap; flat cells → −9999 (both subtrahends exactly zero)
      s"""$demOracleCte
        |SELECT x, y, round(CASE
        |  WHEN gx = 0 AND gy = 0 THEN -9999.0
        |  ELSE (CASE WHEN a0 > 90.0 THEN 450.0 - a0 ELSE 90.0 - a0 END)
        |  END, 6) AS asp_r
        |FROM (SELECT x, y, gx, gy, degrees(atan2(-gy, gx)) AS a0 FROM calc)""".stripMargin,
    "q_hillshade_combined" ->
      // Horn combined shading: acos-hillshade angle weighted by slope
      // steepness (gdaldem_lib.cpp:508); z=1 scale=1 → zScale²=0.015625
      s"""$demOracleCte
        |SELECT x, y, round(CASE WHEN c2 <= 0 THEN 1.0 ELSE 1.0 + 254.0 * c2 END, 6) AS hsc_r
        |FROM (SELECT x, y,
        |  1 - acos((sin(radians(45.0)) - (cos(radians(45.0)) * 0.125) * sqrt(gx*gx + gy*gy) *
        |            sin(atan2(gy, gx) - radians(315.0))) /
        |           sqrt(1 + (gx*gx + gy*gy) * 0.015625)) *
        |      atan(sqrt((gx*gx + gy*gy) * 0.015625)) / ((pi() * pi()) / 4) AS c2
        |  FROM calc)""".stripMargin,
    "q_slope_zt" ->
      // Zevenbergen–Thorne slope: 2-neighbor gradient, atan(sqrt(key)/2)
      s"""$demOracleCte
        |SELECT x, y, round(atan(sqrt(
        |  ((w3 - w5) / 1.0) * ((w3 - w5) / 1.0) +
        |  ((w7 - w1) / (-1.0)) * ((w7 - w1) / (-1.0))) / 2.0) * (180.0 / pi()), 6) AS slz_r
        |FROM calc""".stripMargin,
    "q_tri" ->
      s"""$demOracleCte
        |SELECT x, y, round((abs(w0-w4) + abs(w1-w4) + abs(w2-w4) + abs(w3-w4)
        |  + abs(w5-w4) + abs(w6-w4) + abs(w7-w4) + abs(w8-w4)) / 8.0, 6) AS tri_r
        |FROM calc""".stripMargin,
    "q_tpi" ->
      s"""$demOracleCte
        |SELECT x, y, round(w4 - (w0 + w1 + w2 + w3 + w5 + w6 + w7 + w8) / 8.0, 6) AS tpi_r
        |FROM calc""".stripMargin,
    "q_roughness" ->
      s"""$demOracleCte
        |SELECT x, y, round(greatest(w0,w1,w2,w3,w4,w5,w6,w7,w8)
        |  - least(w0,w1,w2,w3,w4,w5,w6,w7,w8), 6) AS rgh_r
        |FROM calc""".stripMargin,
    "q_color_relief" ->
      // LUT (0→blue, 11→green, 22→red), linear interpolation with the
      // 0.45 rounding bias (exact z=0/11/22 entries coincide with the
      // ratio-0/1 interpolation, so one CASE per channel suffices)
      """WITH g AS (
        |  SELECT (i % 40) AS x, (i // 40) AS y,
        |         CAST(((i % 40) * 31 + (i // 40) * 17) % 23 AS DOUBLE) AS z
        |  FROM (SELECT unnest(generate_series(0, 1199)) AS i))
        |SELECT x, y,
        |  CASE WHEN z <= 11 THEN 0
        |       ELSE CAST(trunc(0.45 + 0 + ((z - 11.0) / 11.0) * 255.0) AS INT) END AS r,
        |  CASE WHEN z <= 11 THEN CAST(trunc(0.45 + 0 + (z / 11.0) * 255.0) AS INT)
        |       ELSE CAST(trunc(0.45 + 255 + ((z - 11.0) / 11.0) * (-255.0)) AS INT) END AS g,
        |  CASE WHEN z <= 11 THEN CAST(trunc(0.45 + 255 + (z / 11.0) * (-255.0)) AS INT)
        |       ELSE 0 END AS b
        |FROM g""".stripMargin,
    "q_fillnodata" ->
      """SELECT * FROM (VALUES
        |  ('identity_checksum', CAST(4672 AS BIGINT)),
        |  ('const_bad_pixels', CAST(0 AS BIGINT)))
        |AS t(test_case, val)""".stripMargin,
    "q_palette" ->
      // reference color table (autotest/alg/dither.py) + dither checksum
      """SELECT * FROM (VALUES
        |  ('color_0', 36, 48, 32), ('color_1', 92, 120, 20),
        |  ('color_2', 88, 96, 20), ('color_3', 92, 132, 56),
        |  ('color_4', 0, 0, 0), ('color_5', 96, 152, 24),
        |  ('color_6', 60, 112, 32), ('color_7', 164, 164, 108),
        |  ('dither_checksum', 8803, 0, 0))
        |AS t(item, a, b, c)""".stripMargin,
    "q_pansharpen" ->
      // weighted Brovey mirror: pseudo-pan = 0.25·ms1 + 0.75·ms2,
      // out = ms · pan/pseudo-pan (same double op order as the kernel)
      """WITH px AS (
        |  SELECT s.s, i.i FROM (SELECT unnest(generate_series(0, 3)) AS s) s,
        |                        (SELECT unnest(generate_series(0, 19)) AS i) i),
        |v AS (
        |  SELECT s, i, 50.0 + s + i AS pan, 10.0 + i AS ms1, 30.0 + i AS ms2 FROM px),
        |f AS (
        |  SELECT s, i, ms1, ms2, pan / (0.25 * ms1 + 0.75 * ms2) AS factor FROM v)
        |SELECT s AS strip, 1 AS band, i AS px, round(ms1 * factor, 6) AS v_r FROM f
        |UNION ALL
        |SELECT s, 2, i, round(ms2 * factor, 6) FROM f""".stripMargin,
    "q_contour" ->
      // plateau fixture: one stitched ring per level; total geo length
      // ring 10 ≈ 80-px square ring, ring 20 ≈ 40-px, at 1/160 px size
      """SELECT * FROM (VALUES
        |  (CAST(10.0 AS DOUBLE), CAST(1 AS BIGINT), CAST(1.975 AS DOUBLE)),
        |  (CAST(20.0 AS DOUBLE), CAST(1 AS BIGINT), CAST(0.975 AS DOUBLE)))
        |AS t(level, n_chains, len_r)""".stripMargin,
    "q_ann_lsh" ->
      // deterministic recall of 6-bit hyperplane LSH with hamming-2
      // multiprobe vs the exact top-5 (seed 42, 500×64d corpus)
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(4 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT)))
        |AS t(qid, n_overlap)""".stripMargin,
    "q_ann_ivf" ->
      // deterministic IVF recall (nlist 22, nprobe 5, Lloyd's spread init)
      // vs exact top-5 — beats the 6-bit LSH's 9/15 on the same corpus
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(5 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(4 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT)))
        |AS t(qid, n_overlap)""".stripMargin,
    "q_ogr_style" ->
      """SELECT * FROM (VALUES
        |  ('multi', 2, 'PEN', '#FF0000', '5', '-', '-'),
        |  ('label', 2, 'LABEL', CAST(NULL AS VARCHAR), '-', 'Hello; World', 'pt'),
        |  ('trail', 1, 'PEN', '#102030', '-', '-', '-'))
        |AS t(name, n_parts, tool0, c0, w0, t0, s_unit)""".stripMargin,
    "q_embed_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        |ORDER BY 1, 2""".stripMargin,
    "q_graph_cc" ->
      // closed form for the 10-group binary-tree forest
      """SELECT CAST(i AS BIGINT) AS vertex, CAST((i // 50) * 50 AS BIGINT) AS comp
        |FROM (SELECT unnest(generate_series(0, 499)) AS i)""".stripMargin,
    "q_graph_sssp" ->
      // tree SSSP from vertex 0: recursive descent terminates (forest)
      """WITH RECURSIVE edges AS (
        |  SELECT (i - i % 50 + (i % 50) // 2) AS src, i AS dst, (i % 13 + 1) AS w
        |  FROM (SELECT unnest(generate_series(1, 499)) AS i) WHERE i % 50 <> 0),
        |d(v, dist) AS (
        |  SELECT 0, 0
        |  UNION ALL
        |  SELECT e.dst, d.dist + e.w FROM d JOIN edges e ON e.src = d.v)
        |SELECT CAST(v AS BIGINT) AS vertex, CAST(dist AS BIGINT) AS dist_i FROM d""".stripMargin,
    "q_graph_kshortest" ->
      // full path enumeration on the DAG (10 paths) ranks the same top-4
      // costs Yen's algorithm returns
      """WITH RECURSIVE
        |rights AS (SELECT r * 3 + c AS u, r * 3 + c + 1 AS v
        |           FROM (SELECT unnest(generate_series(0, 3)) AS r),
        |                (SELECT unnest(generate_series(0, 1)) AS c)),
        |downs AS (SELECT r * 3 + c AS u, (r + 1) * 3 + c AS v
        |          FROM (SELECT unnest(generate_series(0, 2)) AS r),
        |               (SELECT unnest(generate_series(0, 2)) AS c)),
        |e AS (SELECT u, v, ((u * 7 + v * 13) % 10) + 1 AS w
        |      FROM (SELECT * FROM rights UNION ALL SELECT * FROM downs)),
        |p(v, cost) AS (
        |  SELECT 0, 0
        |  UNION ALL
        |  SELECT e.v, p.cost + e.w FROM p JOIN e ON e.u = p.v)
        |SELECT CAST(rank AS INT) AS rank, CAST(cost AS BIGINT) AS cost_i,
        |       CAST(5 AS INT) AS n_hops
        |FROM (SELECT cost, row_number() OVER (ORDER BY cost) AS rank
        |      FROM p WHERE v = 11 ORDER BY cost LIMIT 4)""".stripMargin
  )
}
