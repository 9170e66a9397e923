package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
  StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Axis

/** Generated-input parity of the grid-as-table paths against the
  * broadcast interpolators, over every (rank, method family, lattice
  * shape) face: ranks 2/3/4 × geometric (multilinear) / windowed
  * (bicubic) × regular / irregular / lon-periodic-x lattices. Lattices
  * (node spacing, cell values, masked cells) and probes (interior,
  * node-exact, out-of-frame and, on periodic lattices, seam-crossing and
  * period-shifted x) come from ScalaCheck generators under a fixed seed,
  * so a failure reproduces exactly.
  *
  * Tolerances are the ones the hand-written parity specs pin: windowed
  * is bit-exact, except the regular 3-D/4-D plane-combine weight
  * (fz − k0 table-side vs (z − z0)/(z1 − z0) broadcast-side, 1e-12) and
  * the periodic unwrapped evaluation frame (front + fx·step vs the
  * normalized query, 1e-9); geometric agrees to 1e-12 (the corner sum
  * runs in a different order than the nested broadcast lerp). NaN faces
  * must match exactly on every face.
  */
class TableParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // each face: LatticesPerFace generated lattices x ProbesPerLattice probes
  private val LatticesPerFace = 3
  private val ProbesPerLattice = 120
  private val Params = Gen.Parameters.default

  /** Lattice: axes in (x, y, z, u) order and x-major values (NaN = masked
    * cell: absent from the table, NaN in the broadcast grid).
    */
  private final case class Lattice(axes: Seq[Axis], values: Array[Double])

  private def regularAxis(n: Int): Gen[Axis] = for {
    front <- Gen.choose(-50.0, 50.0)
    step <- Gen.choose(0.25, 4.0)
  } yield Axis(Array.tabulate(n)(i => front + step * i))

  private def irregularAxis(n: Int): Gen[Axis] = for {
    front <- Gen.choose(-50.0, 50.0)
    steps <- Gen.listOfN(n - 1, Gen.choose(0.2, 3.0))
  } yield Axis(steps.scanLeft(front)(_ + _).toArray)

  /** Global lon-periodic x: nx nodes closing the 360° circle. */
  private val periodicAxis: Gen[Axis] = for {
    nx <- Gen.choose(12, 18)
    front <- Gen.oneOf(Gen.const(-180.0), Gen.const(0.0),
      Gen.choose(-200.0, 100.0))
  } yield Axis.regular(front, front + 360.0 - 360.0 / nx, nx,
    period = 360.0)

  /** Windowed lattices get longer plane axes and a single masked cell:
    * a masked cell NaNs every (2·halfWindow)² window over it, and the
    * faces must keep enough framed probes to compare values.
    */
  private def latticeGen(rank: Int, shape: String,
                         windowed: Boolean): Gen[Lattice] = {
    val planeSize = if (windowed) Gen.choose(13, 17) else Gen.choose(5, 9)
    // >= 3 nodes: a 2-node axis is always regular
    val sizes = Seq(planeSize, planeSize, Gen.choose(3, 4), Gen.const(3))
    def axisOf(d: Int): Gen[Axis] = sizes(d).flatMap { n =>
      shape match {
        case "periodic" if d == 0 => periodicAxis
        case "irregular" => irregularAxis(n)
        case _ => regularAxis(n)
      }
    }
    for {
      axes <- Gen.sequence[Seq[Axis], Axis]((0 until rank).map(axisOf))
      total = axes.map(_.size).product
      vals <- Gen.listOfN(total, Gen.choose(-10.0, 10.0))
      masked <- Gen.listOfN(if (windowed) 1 else 2, Gen.choose(0, total - 1))
    } yield {
      val v = vals.toArray
      masked.foreach(i => v(i) = Double.NaN)
      Lattice(axes, v)
    }
  }

  /** One probe coordinate on `a`: interior, node-exact or off the axis;
    * periodic x adds seam-crossing and period-shifted coordinates.
    */
  private def coordGen(a: Axis, kind: String): Gen[Double] = {
    val span = a.back - a.front
    val node = Gen.oneOf(a.values.toIndexedSeq)
    val outside = Gen.oneOf(
      Gen.choose(a.front - 0.3 * span, a.front - 1e-9),
      Gen.choose(a.back + 1e-9, a.back + 0.3 * span))
    val interior = Gen.choose(a.front, a.back)
    if (a.isPeriodic) {
      val seam = Gen.choose(a.back, a.front + a.period)
      val shifted = for {
        x <- Gen.oneOf(interior, seam, node)
        k <- Gen.oneOf(-1, 1, 2)
      } yield x + k * a.period
      kind match {
        case "node" => node
        case _ => Gen.frequency(3 -> interior, 3 -> seam, 2 -> shifted,
          1 -> node)
      }
    } else kind match {
      case "node" => node
      case "outside" => outside
      case _ => Gen.frequency(6 -> interior, 2 -> node, 1 -> outside)
    }
  }

  private def probeGen(l: Lattice): Gen[Seq[Double]] = {
    val rank = l.axes.size
    def all(kind: String) = Gen.sequence[Seq[Double], Double](
      l.axes.map(coordGen(_, kind)))
    val oneOutside = for {
      d <- Gen.choose(if (l.axes.head.isPeriodic) 1 else 0, rank - 1)
      base <- all("mixed")
      c <- coordGen(l.axes(d), "outside")
    } yield base.updated(d, c)
    Gen.frequency(6 -> all("mixed"), 2 -> all("node"), 1 -> oneOutside)
  }

  private val tableCols = Seq("lon", "lat", "z", "u")
  private val probeCols = Seq("x", "y", "zq", "uq")

  private def gridTable(l: Lattice): DataFrame = {
    val rank = l.axes.size
    val sizes = l.axes.map(_.size)
    val rows = new java.util.ArrayList[Row]()
    l.values.indices.foreach { flat =>
      if (!l.values(flat).isNaN) {
        var rem = flat
        val coords = Array.fill(rank)(0.0)
        for (d <- rank - 1 to 0 by -1) {
          coords(d) = l.axes(d)(rem % sizes(d))
          rem /= sizes(d)
        }
        rows.add(Row.fromSeq(coords.toSeq :+ l.values(flat)))
      }
    }
    spark.createDataFrame(rows, StructType(
      (tableCols.take(rank) :+ "v").map(StructField(_, DoubleType, false))))
  }

  private def probeFrame(probes: Seq[Seq[Double]]): DataFrame = {
    val rank = probes.head.size
    val rows = new java.util.ArrayList[Row]()
    probes.zipWithIndex.foreach { case (p, i) =>
      rows.add(Row.fromSeq(i.toLong +: p))
    }
    spark.createDataFrame(rows, StructType(
      StructField("qid", LongType, false) +:
        probeCols.take(rank).map(StructField(_, DoubleType, false))))
  }

  private def values(df: DataFrame): Map[Long, Double] =
    df.select("qid", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def broadcast(l: Lattice, probes: DataFrame,
                        method: String): Map[Long, Double] = {
    val a = l.axes
    values(a.size match {
      case 2 => GridInterpolator.bivariate(spark, probes, "x", "y",
        Grid2D(a(0), a(1), l.values), method)
      case 3 => GridInterpolator.trivariate(spark, probes, "x", "y", "zq",
        Grid3D(a(0), a(1), a(2), l.values), method)
      case _ => QuadrivariateInterpolator.quadrivariate(spark, probes, "x",
        "y", "zq", "uq", Grid4D(a(0), a(1), a(2), a(3), l.values), method)
    })
  }

  private def table(l: Lattice, probes: DataFrame,
                    windowed: Boolean): Map[Long, Double] = {
    val t = gridTable(l)
    val xp = if (l.axes.head.isPeriodic) l.axes.head.period else 0.0
    values((l.axes.size, windowed) match {
      case (2, false) => GridInterpolator.bivariateTable(spark, probes,
        "x", "y", t, valueCol = "v", xPeriod = xp)
      case (3, false) => GridInterpolator.trivariateTable(spark, probes,
        "x", "y", "zq", t, zColName = "z", valueCol = "v", xPeriod = xp)
      case (_, false) => GridInterpolator.quadrivariateTable(spark, probes,
        "x", "y", "zq", "uq", t, zColName = "z", uColName = "u",
        valueCol = "v", xPeriod = xp)
      case (2, true) => GridInterpolator.bivariateTableWindowed(spark,
        probes, "x", "y", t, valueCol = "v", xPeriod = xp)
      case (3, true) => GridInterpolator.trivariateTableWindowed(spark,
        probes, "x", "y", "zq", t, zColName = "z", valueCol = "v",
        xPeriod = xp)
      case (_, true) => GridInterpolator.quadrivariateTableWindowed(spark,
        probes, "x", "y", "zq", "uq", t, zColName = "z", uColName = "u",
        valueCol = "v", xPeriod = xp)
    })
  }

  /** Generates one lattice and its probes from `seed`, evaluates both
    * paths, and fails on the first divergence past the face's tolerance.
    */
  private def checkLattice(rank: Int, windowed: Boolean, shape: String,
                           seed: Seed): Unit = {
    val (lattice, probes) = (for {
      l <- latticeGen(rank, shape, windowed)
      ps <- Gen.listOfN(ProbesPerLattice, probeGen(l))
    } yield (l, ps)).pureApply(Params, seed)
    if (shape == "irregular") assert(lattice.axes.forall(!_.isRegular))
    else assert(lattice.axes.forall(_.isRegular))

    val tol =
      if (!windowed) 1e-12
      else if (shape == "periodic") 1e-9
      else if (shape == "regular" && rank > 2) 1e-12
      else 0.0
    val df = probeFrame(probes)
    val viaBroadcast =
      broadcast(lattice, df, if (windowed) "bicubic" else "bilinear")
    val viaTable = table(lattice, df, windowed)
    assert(viaTable.keySet === viaBroadcast.keySet)
    val mismatches = viaTable.toSeq.sortBy(_._1).collect {
      case (qid, v) if {
          val b = viaBroadcast(qid)
          if (v.isNaN || b.isNaN) v.isNaN != b.isNaN
          else if (tol == 0.0) v != b
          else math.abs(v - b) > tol
        } => s"qid $qid ${probes(qid.toInt).mkString("(", ", ", ")")}: " +
          s"table $v vs broadcast ${viaBroadcast(qid)}"
    }
    assert(mismatches.isEmpty, s"$seed: ${mismatches.size} of " +
      s"${probes.size} probes diverge:\n" + mismatches.take(10)
        .mkString("\n"))

    // the generated lattice must exercise what the face claims to cover
    val nodeExact = probes.count(p => p.indices.forall(d =>
      lattice.axes(d).values.contains(p(d))))
    assert(nodeExact > 0, "no node-exact probe generated")
    assert(viaTable.values.exists(_.isNaN), "no NaN face exercised")
    assert(viaTable.values.count(!_.isNaN) >= ProbesPerLattice / 12,
      "too few framed probes")
    if (shape == "periodic") {
      val x = lattice.axes.head
      assert(probes.exists(p => p.head < x.front || p.head > x.back),
        "no seam-crossing or period-shifted probe generated")
    }
  }

  for (rank <- 2 to 4; windowed <- Seq(false, true);
       shape <- Seq("regular", "irregular", "periodic")) {
    val family = if (windowed) "windowed" else "geometric"
    test(s"generated parity: ${rank}-D $family table ≡ broadcast on " +
        s"$shape lattices") {
      val face = rank * 100 + (if (windowed) 10 else 0) +
        Seq("regular", "irregular", "periodic").indexOf(shape)
      for (i <- 0 until LatticesPerFace)
        checkLattice(rank, windowed, shape, Seed(0x7AB1EL * 1000 + face * 7 + i))
    }
  }
}
