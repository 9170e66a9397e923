package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Input validation of the six grid-as-table entry points, table-driven:
  * every entry point must reject each malformed input with an
  * IllegalArgumentException before any interpolation runs.
  */
class TableValidationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** One entry point: its name, rank, family, and a call taking the probe
    * frame, the lattice table, xPeriod, method and halfWindow (the last
    * two are ignored by the geometric entries).
    */
  private final case class Entry(name: String, rank: Int, windowed: Boolean,
      run: (DataFrame, DataFrame, Double, String, Int) => DataFrame)

  private val entries = Seq(
    Entry("bivariateTable", 2, windowed = false, (p, t, xp, _, _) =>
      GridInterpolator.bivariateTable(spark, p, "x", "y", t, xPeriod = xp)),
    Entry("trivariateTable", 3, windowed = false, (p, t, xp, _, _) =>
      GridInterpolator.trivariateTable(spark, p, "x", "y", "zq", t,
        zColName = "z", xPeriod = xp)),
    Entry("quadrivariateTable", 4, windowed = false, (p, t, xp, _, _) =>
      GridInterpolator.quadrivariateTable(spark, p, "x", "y", "zq", "uq", t,
        zColName = "z", uColName = "u", xPeriod = xp)),
    Entry("bivariateTableWindowed", 2, windowed = true, (p, t, xp, m, hw) =>
      GridInterpolator.bivariateTableWindowed(spark, p, "x", "y", t, m,
        halfWindow = hw, xPeriod = xp)),
    Entry("trivariateTableWindowed", 3, windowed = true, (p, t, xp, m, hw) =>
      GridInterpolator.trivariateTableWindowed(spark, p, "x", "y", "zq", t,
        m, halfWindow = hw, zColName = "z", xPeriod = xp)),
    Entry("quadrivariateTableWindowed", 4, windowed = true,
      (p, t, xp, m, hw) =>
        GridInterpolator.quadrivariateTableWindowed(spark, p, "x", "y", "zq",
          "uq", t, m, halfWindow = hw, zColName = "z", uColName = "u",
          xPeriod = xp)))

  private def probe(rank: Int): DataFrame =
    Seq((1.5, 1.5, 0.5, 0.5)).toDF("x", "y", "zq", "uq")
      .select(Seq("x", "y", "zq", "uq").take(rank).map(col): _*)

  /** Full lattice over the given x/y node values (z and u: 3 nodes). */
  private def lattice(rank: Int, xs: Seq[Double], ys: Seq[Double])
      : DataFrame = {
    val planes = Seq(0.0, 1.0, 2.0)
    Seq("lon" -> xs, "lat" -> ys, "z" -> planes, "u" -> planes).take(rank)
      .map { case (name, nodes) => nodes.toDF(name) }
      .reduce(_ crossJoin _)
      .withColumn("v", lit(1.0))
  }

  private val regular8 = (0 until 8).map(_.toDouble)

  /** One malformed input: the x/y node values, xPeriod, method and
    * halfWindow to call with, and the fragment the error message must
    * carry for a given entry point.
    */
  private final case class Bad(what: String, windowedOnly: Boolean,
      xs: Seq[Double], ys: Seq[Double], xPeriod: Double, method: String,
      halfWindow: Int, message: Entry => String)

  private val cases = Seq(
    Bad("an xPeriod lattice that does not close the circle", false,
      (0 until 100).map(_.toDouble), regular8, 360.0, "bicubic", 3,
      _ => "requires a full-circle lattice"),
    Bad("xPeriod on irregular axes", false,
      (0 until 8).map(i => i * (i + 1) / 2.0), regular8, 360.0, "bicubic", 3,
      _ => "xPeriod requires a regular full-circle lattice"),
    Bad("a geometric method on a windowed entry", true,
      regular8, regular8, 0.0, "bilinear", 3,
      e => s"use ${e.name.stripSuffix("Windowed")}"),
    Bad("an x plane axis shorter than 2*halfWindow", true,
      (0 until 5).map(_.toDouble), regular8, 0.0, "bicubic", 3,
      e => e.name),
    Bad("a y plane axis shorter than 2*halfWindow", true,
      regular8, (0 until 7).map(_.toDouble), 0.0, "bicubic", 4,
      e => e.name),
    Bad("a single-node plane axis", false,
      regular8, Seq(0.0), 0.0, "bicubic", 3,
      e => e.name))

  for (c <- cases; e <- entries if e.windowed || !c.windowedOnly) {
    test(s"${e.name} rejects ${c.what}") {
      val err = intercept[IllegalArgumentException] {
        e.run(probe(e.rank), lattice(e.rank, c.xs, c.ys), c.xPeriod,
          c.method, c.halfWindow)
      }
      assert(err.getMessage.contains(c.message(e)), err.getMessage)
    }
  }
}
