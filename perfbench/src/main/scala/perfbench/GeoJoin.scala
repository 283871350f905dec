package perfbench

import graft.join.SpatialJoin
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The broadcast spatial join over a seeded lattice with a known answer.
  *
  * Cell (cx, cy) of a `side`×`side` lattice of 16-unit cells holds one
  * rectangle and its centre point, which lies inside that rectangle only,
  * so a containment join yields exactly one pair per cell and the pair's
  * ids agree. Widths, heights and offsets are multiples of 1/8. */
final class GeoJoin(side: Int, files: Int) extends Workload {
  val name = "geo_join"

  private val Size = 16.0

  private var spark: SparkSession = _
  private var dir: java.io.File = _
  private var n = 0L
  private var sample: Seq[Array[Byte]] = Nil
  private var polys: DataFrame = _
  private var points: DataFrame = _

  override def geometrySample: Seq[Array[Byte]] = sample

  private def schema(id: String) = StructType(Seq(
    StructField(id, LongType), StructField("geometry", BinaryType)))

  private def path(name: String) = new java.io.File(dir, name).toString

  private def write(rows: Seq[Row], id: String, name: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema(id))
      .write.mode("overwrite").parquet(path(name))

  def setup(spark: SparkSession, dir: java.io.File, seed: Long): Unit = {
    this.spark = spark
    this.dir = dir
    val r = new scala.util.Random(seed)
    n = side.toLong * side
    val polyRows = Array.newBuilder[Row]
    val pointRows = Array.newBuilder[Row]
    for (cy <- 0 until side; cx <- 0 until side) {
      val id = cy.toLong * side + cx
      val x0 = cx * Size + 2 + r.nextInt(8) / 8.0
      val y0 = cy * Size + 2 + r.nextInt(8) / 8.0
      val w = 1 + r.nextInt(25) / 8.0
      val h = 1 + r.nextInt(25) / 8.0
      polyRows += Row(id, Geom.ewkb(Geom.rect(x0, y0, x0 + w, y0 + h), 0))
      pointRows += Row(id, Geom.ewkb(Geom.point(x0 + w / 2, y0 + h / 2), 0))
    }
    val (ps, qs) = (polyRows.result().toSeq, pointRows.result().toSeq)
    write(ps, "lk", "polys")
    write(qs, "rk", "points")
    sample = r.shuffle(ps ++ qs).take(8192).map(_.getAs[Array[Byte]](1))
    // input frames are read once: their file listing and schema are the
    // caller's, not part of any op
    polys = spark.read.parquet(path("polys"))
    points = spark.read.parquet(path("points"))
  }

  def ops(pass: Int): Seq[Op] = Seq(
    Op.read("sjoin", "join") {
      SpatialJoin.sjoin(polys, points, "contains")
        .agg(count(lit(1)), sum(when(col("lk") === col("rk"), 1).otherwise(0)))
    } { out =>
      val r = Check.one(out)
      Check.all(Check.expectEq("pairs", Check.num(r, 0), n.toDouble),
        Check.expectEq("pairs with matching ids", Check.num(r, 1), n.toDouble))
    }
  )
}
