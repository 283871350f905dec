package perfbench

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, PrecisionModel}
import org.locationtech.jts.io.{ByteOrderValues, WKBWriter}

/** Plain-JTS geometry construction and EWKB encoding for the generators.
  * Nothing here calls the engine: the inputs and their expected values
  * must not depend on the code under test. */
object Geom {
  val gf = new GeometryFactory(new PrecisionModel(), 0)

  private val writer = new ThreadLocal[WKBWriter] {
    override def initialValue() = new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN, true)
  }

  /** PostGIS EWKB, little endian, SRID in the header when non-zero. */
  def ewkb(g: Geometry, srid: Int): Array[Byte] = {
    g.setSRID(srid)
    writer.get().write(g)
  }

  def rect(x0: Double, y0: Double, x1: Double, y1: Double): Geometry =
    gf.createPolygon(Array(new Coordinate(x0, y0), new Coordinate(x1, y0),
      new Coordinate(x1, y1), new Coordinate(x0, y1), new Coordinate(x0, y0)))

  def triangle(x0: Double, y0: Double, w: Double, h: Double): Geometry =
    gf.createPolygon(Array(new Coordinate(x0, y0), new Coordinate(x0 + w, y0),
      new Coordinate(x0, y0 + h), new Coordinate(x0, y0)))

  def point(x: Double, y: Double): Geometry = gf.createPoint(new Coordinate(x, y))

  /** EWKB CircularString (type 8) through three points; JTS has no curve
    * types, so the bytes are written directly. */
  def circularString(pts: Seq[(Double, Double)], srid: Int): Array[Byte] = {
    val hasSrid = srid != 0
    val bb = java.nio.ByteBuffer.allocate(1 + 4 + (if (hasSrid) 4 else 0) + 4 + 16 * pts.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte)
    bb.putInt(8 | (if (hasSrid) 0x20000000 else 0))
    if (hasSrid) bb.putInt(srid)
    bb.putInt(pts.length)
    pts.foreach { case (x, y) => bb.putDouble(x); bb.putDouble(y) }
    bb.array()
  }
}
