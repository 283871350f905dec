package perfbench

import graft.functions._
import graft.io.GeoIO
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.util.AffineTransformation
import org.locationtech.jts.operation.overlayng.{OverlayNG, OverlayNGRobust}

/** Elementwise kernels, one aggregation and GeoParquet I/O over seeded
  * lon/lat features.
  *
  * Every feature sits inside its own cell of a 1/16-degree lattice, so no
  * two features touch: a group's union area is the sum of its members'
  * areas, and a bbox on cell boundaries selects whole cells. Sizes are
  * multiples of 1/256 degree, so rectangle areas and lengths are exact in
  * binary floating point. Kinds: rectangles and right triangles (small
  * EWKB), points buffered with 8 segments per quadrant (33 vertices, over
  * 512 bytes of EWKB) and semicircular CircularStrings. */
final class GeoScan(features: Int, files: Int) extends Workload {
  val name = "geo_scan"

  private val Rect = 0; private val Tri = 1; private val Gon = 2; private val Arc = 3
  private val Cell = 1.0 / 16
  private val Unit = 1.0 / 256
  private val Lon0 = -8.0
  private val Lat0 = 40.0
  private val BufferDist = 1.0 / 512
  private val BufferRings = (1 to 8).map(_ * BufferDist)
  private val Groups = 1024

  private var spark: SparkSession = _
  private var featPath = ""
  private var outPath = "" // buffered polygons written by write_geoparquet
  private var bbox = (0.0, 0.0, 0.0, 0.0)
  private var bboxRows = 0L
  private var bboxIdSum = 0L
  private var nonArc = 0L
  private var nonArcIdSum = 0L
  private var polyGroups = 0L
  private var sample: Seq[Array[Byte]] = Nil
  private var feats: DataFrame = _

  override def geometrySample: Seq[Array[Byte]] = sample

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", IntegerType),
    StructField("kind", IntegerType), StructField("geometry", BinaryType),
    StructField("dx", DoubleType), StructField("dd", DoubleType),
    StructField("exp_i", BooleanType), StructField("exp_c", BooleanType),
    StructField("exp_d", BooleanType),
    StructField("exp_area", DoubleType), StructField("exp_len", DoubleType),
    StructField("exp_cx", DoubleType), StructField("exp_cy", DoubleType),
    StructField("exp_ia", DoubleType), StructField("exp_ba", DoubleType),
    StructField("cx", IntegerType), StructField("cy", IntegerType)))

  /** One generated feature row with its expected values. */
  private def feature(i: Int, side: Int, r: scala.util.Random): Row = {
    val cx = i % side
    val cy = i / side
    val ox = Lon0 + cx * Cell
    val oy = Lat0 + cy * Cell
    val kindDraw = r.nextInt(100)
    val kind = if (kindDraw < 40) Rect else if (kindDraw < 60) Tri
      else if (kindDraw < 85) Gon else Arc
    val x0 = ox + (1 + r.nextInt(4)) * Unit
    val y0 = oy + (1 + r.nextInt(4)) * Unit
    val w = (4 + r.nextInt(8)) * Unit
    val h = (4 + r.nextInt(8)) * Unit
    val mode = r.nextInt(4)
    val (g, bytes, area, len, ccx, ccy, bounds, gap, overlapShift) = kind match {
      case Rect =>
        val g = Geom.rect(x0, y0, x0 + w, y0 + h)
        (g, Geom.ewkb(g, 4326), w * h, 2 * (w + h), x0 + w / 2, y0 + h / 2,
          (x0, y0, x0 + w, y0 + h), w, w / 2)
      case Tri =>
        val g = Geom.triangle(x0, y0, w, h)
        (g, Geom.ewkb(g, 4326), w * h / 2, w + h + math.hypot(w, h),
          x0 + w / 3, y0 + h / 3, (x0, y0, x0 + w, y0 + h), w, w / 2)
      case Gon =>
        val rr = (2 + r.nextInt(4)) * Unit
        val (px, py) = (ox + Cell / 2, oy + Cell / 2)
        val g = Geom.point(px, py).buffer(rr, 8)
        (g, Geom.ewkb(g, 4326), 16 * rr * rr * math.sin(math.Pi / 16),
          64 * rr * math.sin(math.Pi / 32), px, py,
          (px - rr, py - rr, px + rr, py + rr), rr, rr)
      case _ =>
        val a = w / 2
        val bytes = Geom.circularString(Seq((x0, y0), (x0 + a, y0 + a), (x0 + 2 * a, y0)), 4326)
        (null, bytes, 0.0, math.Pi * a, Double.NaN, Double.NaN,
          (x0, y0, x0 + 2 * a, y0 + a), a, a)
    }
    // translated copy: itself, overlapping, or past a known gap
    val dx = mode match { case 0 => 0.0; case 1 => overlapShift; case _ => gap + (bounds._3 - bounds._1) }
    val dd = if (mode == 3) gap / 2 else gap * 1.5
    val (ia, ba) =
      if (g == null) (0.0, 0.0)
      else {
        val c = AffineTransformation.translationInstance(dx, 0).transform(g)
        (OverlayNGRobust.overlay(g, c, OverlayNG.INTERSECTION).getArea, g.buffer(BufferDist).getArea)
      }
    Row(i.toLong, i % Groups, kind, bytes, dx, dd, mode <= 1, mode == 0, mode <= 2,
      area, len, ccx, ccy, ia, ba, cx, cy)
  }

  def setup(spark: SparkSession, dir: java.io.File, seed: Long): Unit = {
    this.spark = spark
    val r = new scala.util.Random(seed)
    val side = math.ceil(math.sqrt(features.toDouble)).toInt
    val rows = (0 until features).map(i => feature(i, side, r))
    featPath = new java.io.File(dir, "features").toString
    outPath = new java.io.File(dir, "centroids").toString
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
    // spatially banded files, the shape a bbox read can prune
    GeoIO.writeGeoParquet(df.repartitionByRange(files, col("cy"), col("cx")), featPath)
    // a bbox whose edges lie on cell boundaries: a quarter of the rows
    // and a quarter of the columns of the lattice
    val c0 = r.nextInt(side - side / 4)
    val r0 = r.nextInt(side - side / 4)
    val span = side / 4
    bbox = (Lon0 + c0 * Cell, Lat0 + r0 * Cell, Lon0 + (c0 + span) * Cell, Lat0 + (r0 + span) * Cell)
    val inBox = rows.filter { row =>
      val cx = row.getInt(15); val cy = row.getInt(16)
      cx >= c0 && cx < c0 + span && cy >= r0 && cy < r0 + span
    }
    bboxRows = inBox.length
    bboxIdSum = inBox.map(_.getLong(0)).sum
    val na = rows.filter(_.getInt(2) != Arc)
    nonArc = na.length
    nonArcIdSum = na.map(_.getLong(0)).sum
    polyGroups = na.map(_.getInt(1)).distinct.length
    sample = r.shuffle(rows.map(_.getAs[Array[Byte]](3))).take(8192)
    // the input frame is read once: its file listing and schema are the
    // caller's, not part of any op
    feats = spark.read.parquet(featPath)
    feats.createOrReplaceTempView("pb_features")
  }

  private def g = col("geometry")

  /** 1 when `got` misses `want` by more than rel·|want| + abs (or is null
    * or NaN), else 0. */
  private def bad(got: Column, want: Column, rel: Double, absTol: Double = 0.0): Column =
    coalesce(when(abs(got - want) <= abs(want) * rel + absTol, 0).otherwise(1), lit(1))
  private def badB(got: Column, want: Column): Column =
    coalesce(when(got === want, 0).otherwise(1), lit(1))

  /** Check for an aggregate row (rows, mismatches...): the row count must
    * equal `rows` and every mismatch count must be 0. */
  private def zeroMismatches(labels: String*)(rows: Long)(out: Array[Row]): Option[String] = {
    val r = Check.one(out)
    Check.all(Check.expectEq("rows", Check.num(r, 0), rows.toDouble) +:
      labels.zipWithIndex.map { case (l, i) => Check.expectEq(s"$l mismatches", Check.num(r, i + 1), 0) }: _*)
  }

  private def polys: DataFrame = feats.filter(col("kind") =!= Arc)
  private def shifted: Column = st_translate(g, col("dx"), lit(0.0))

  def ops(pass: Int): Seq[Op] = Seq(
    Op.read("measure", "functions") {
      polys.select(st_area(g).as("a"), st_length(g).as("l"), st_centroid(g).as("c"),
          col("exp_area"), col("exp_len"), col("exp_cx"), col("exp_cy"))
        .agg(count(lit(1)), sum(bad(col("a"), col("exp_area"), 1e-9)),
          sum(bad(col("l"), col("exp_len"), 1e-9)),
          sum(bad(st_x(col("c")), col("exp_cx"), 0.0, 1e-9)),
          sum(bad(st_y(col("c")), col("exp_cy"), 0.0, 1e-9)))
    }(zeroMismatches("area", "length", "centroid x", "centroid y")(nonArc)),

    Op.read("predicates", "functions") {
      polys.select(st_intersects(g, shifted).as("i"), st_contains(g, shifted).as("c"),
          st_dwithin(g, shifted, col("dd")).as("d"), col("exp_i"), col("exp_c"), col("exp_d"))
        .agg(count(lit(1)), sum(badB(col("i"), col("exp_i"))),
          sum(badB(col("c"), col("exp_c"))), sum(badB(col("d"), col("exp_d"))))
    }(zeroMismatches("intersects", "contains", "dwithin")(nonArc)),

    Op.read("overlay", "functions") {
      polys.select(st_area(st_intersection(g, shifted)).as("ia"),
          st_area(st_buffer(g, lit(BufferDist))).as("ba"), col("exp_ia"), col("exp_ba"))
        .agg(count(lit(1)), sum(bad(col("ia"), col("exp_ia"), 1e-9, 1e-18)),
          sum(bad(col("ba"), col("exp_ba"), 1e-9)))
    }(zeroMismatches("intersection area", "buffer area")(nonArc)),

    Op.read("sql_scan", "functions") {
      spark.sql(
        s"""SELECT count(*),
           |  sum(CASE WHEN abs(ST_Area(geometry) - exp_area) <= 1e-9 * abs(exp_area) THEN 0 ELSE 1 END),
           |  sum(CASE WHEN abs(ST_Length(geometry) - exp_len) <= 1e-9 * exp_len THEN 0 ELSE 1 END),
           |  sum(CASE WHEN abs(ST_X(ST_Centroid(geometry)) - exp_cx) <= 1e-9 THEN 0 ELSE 1 END),
           |  sum(CASE WHEN ST_Intersects(geometry, ST_Translate(geometry, dx, 0.0)) = exp_i THEN 0 ELSE 1 END),
           |  sum(CASE WHEN ST_Contains(geometry, ST_Translate(geometry, dx, 0.0)) = exp_c THEN 0 ELSE 1 END),
           |  sum(CASE WHEN ST_DWithin(geometry, ST_Translate(geometry, dx, 0.0), dd) = exp_d THEN 0 ELSE 1 END)
           |FROM pb_features WHERE kind <> $Arc""".stripMargin)
    }(zeroMismatches("area", "length", "centroid", "intersects", "contains", "dwithin")(nonArc)),

    Op.read("union_groups", "aggs") {
      polys.groupBy(col("grp"))
        .agg(st_area(st_union_all(g)).as("ua"), sum(col("exp_area")).as("ea"))
        .agg(count(lit(1)), sum(bad(col("ua"), col("ea"), 1e-9)))
    }(zeroMismatches("group union area")(polyGroups)),

    Op.read("read_bbox", "io") {
      GeoIO.readGeoParquet(spark, featPath, bbox = Some(bbox))
        .agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)))
    } { out =>
      val r = Check.one(out)
      record("read_bbox.rows", Check.num(r, 0))
      Check.all(Check.expectEq("rows in bbox", Check.num(r, 0), bboxRows.toDouble),
        Check.expectEq("id sum in bbox", Check.num(r, 1), bboxIdSum.toDouble))
    },

    // the result is 8 buffers of every polygon (a multi-distance service
    // area), so the write moves enough bytes to time steadily
    Op.write("write_geoparquet", "io") {
      polys.select(col("id"), col("grp"), explode(array(BufferRings.map(lit(_)): _*)).as("d"),
          col("geometry"))
        .select(col("id"), col("grp"), col("d"), st_buffer(g, col("d")).as("geometry"))
    }(df => GeoIO.writeGeoParquet(df, outPath)) {
      val r = Check.one(spark.read.parquet(outPath).agg(count(lit(1)), sum(col("id"))).collect())
      Check.all(Check.expectEq("rows written", Check.num(r, 0), nonArc.toDouble * BufferRings.length),
        Check.expectEq("id sum written", Check.num(r, 1), nonArcIdSum.toDouble * BufferRings.length))
    }
  )
}
