package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** One call into a public door of the engine.
  *
  * A read op builds its frame through the door (`build`, which may run
  * Spark jobs of its own) and collects it (`act`); the timed part ends when
  * the result is on the driver. A write op builds the frame to write and
  * `act` is the write door itself. `check` compares the collected rows (or,
  * for a write, what was written) with an expectation computed without the
  * engine, and returns a description of the first mismatch. */
final case class Op(name: String, layer: String, isWrite: Boolean,
    build: () => DataFrame,
    act: DataFrame => Array[Row],
    check: Array[Row] => Option[String]) {
  def key: String = s"$layer.$name"
}

object Op {
  def read(name: String, layer: String)(build: => DataFrame)(
      check: Array[Row] => Option[String]): Op =
    Op(name, layer, isWrite = false, () => build, _.collect(), check)

  /** `write` runs the door; `verify` reads back what it wrote. */
  def write(name: String, layer: String)(build: => DataFrame)(
      write: DataFrame => Unit)(verify: => Option[String]): Op =
    Op(name, layer, isWrite = true, () => build,
      df => { write(df); Array.empty[Row] }, _ => verify)
}

/** A seeded input set and the op sequence one pass runs over it. */
trait Workload {
  def name: String

  /** Generates the inputs from the seed and writes them under `dir`
    * (files, catalog tables, stores, indexes). Called more than once per
    * run, each time into a fresh directory; the last call's state is the
    * one the passes use. */
  def setup(spark: SparkSession, dir: java.io.File, seed: Long): Unit

  /** The ops of pass `pass` (the first passes are warm-up). */
  def ops(pass: Int): Seq[Op]

  /** A seeded sample of this workload's own geometries, as EWKB. */
  def geometrySample: Seq[Array[Byte]] = Nil

  private val recorded = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  /** Values the checks recorded (outcome counts and ratios), one per attempt. */
  def outcomes: Map[String, Seq[Double]] = recorded.map { case (k, v) => k -> v.toSeq }.toMap
  def record(key: String, v: Double): Unit =
    recorded.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
}

/** Several workloads run as one: set-up and passes in sequence, one
  * session. */
final class Combined(val name: String, parts: Workload*) extends Workload {
  def setup(spark: SparkSession, dir: java.io.File, seed: Long): Unit =
    parts.foreach(p => p.setup(spark, new java.io.File(dir, p.name), seed))
  def ops(pass: Int): Seq[Op] = parts.flatMap(_.ops(pass))
  override def geometrySample: Seq[Array[Byte]] = parts.flatMap(_.geometrySample)
  override def outcomes: Map[String, Seq[Double]] = parts.map(_.outcomes).reduce(_ ++ _)
}

/** Comparison helpers shared by the checks. */
object Check {
  def near(got: Double, want: Double, rel: Double, abs: Double = 0.0): Boolean =
    math.abs(got - want) <= rel * math.abs(want) + abs

  /** The single row of a one-row aggregate as longs/doubles. */
  def one(rows: Array[Row]): Row = {
    require(rows.length == 1, s"expected one row, got ${rows.length}")
    rows(0)
  }

  def num(r: Row, i: Int): Double = r.get(i) match {
    case null => Double.NaN
    case n: Number => n.doubleValue
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  def expectEq(what: String, got: Double, want: Double): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def all(cs: Option[String]*): Option[String] = cs.flatten.headOption
}
