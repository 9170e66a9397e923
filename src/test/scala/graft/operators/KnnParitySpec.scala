package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Generated-input parity of the kNN join's broadcast path against its
  * shuffle path, for every face of the search core: k-nearest rows, IDW,
  * window function, distance join, RBF, kriging and optimal interpolation
  * on 2-D cartesian and geodetic inputs, plus 4-D k-nearest rows and OI.
  *
  * Each scenario draws the build and probe sets (coordinates partly on a
  * coarse lattice, so distance ties and exact hits occur; negative ids
  * and qids; geodetic longitudes wrapping the antimeridian), `k`, the
  * radius and the cell precision (4-D: cell size); it runs with salt 1 or
  * 3 against either the forced shuffle or forced broadcast with
  * `maxBroadcastRows` below the build size, so the capped collect falls
  * over to the shuffle path. Rows are compared where the shuffle path
  * reports `exact` (the 2-D faces share one k-nearest set per probe, so
  * the flag of [[KnnJoin.neighbors]] under the same config holds for all
  * of them), every distance-join row (its precision is coarsened to the
  * radius), and every 4-D row (the cell size exceeds the (x1, x2) extent,
  * so one 3x3 block covers the lattice). Cartesian 2-D coordinates stay
  * inside the GeoHash domain ([-180, 180] x [-90, 90]); geodetic
  * latitudes stay inside the distance join's default `maxAbsLat`.
  */
class KnnParitySpec extends AnyFunSuite {
  import KnnParitySpec._
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // scenario i takes salt 1 or 3 from bit 0 of i and the forced shuffle
  // or the capped fallback from bit 1, so each kind runs all four pairs
  private val ScenariosPerKind = 4
  private val ProbesPerScenario = 60
  // each face must compare at least this many generated probes
  private val MinCompared = 100
  private val Params = Gen.Parameters.default

  private def salt(i: Int): Int = if ((i & 1) == 0) 1 else 3
  private def capped(i: Int): Boolean = (i & 2) != 0

  /** A coordinate in [o, o + e): half on a 9-node lattice, half anywhere. */
  private def coord(o: Double, e: Double): Gen[Double] =
    Gen.oneOf(Gen.choose(0.0, e), Gen.choose(0, 8).map(_ * e / 8))
      .map(o + _)

  private def lon(x: Double): Double =
    if (x >= 180.0) x - 360.0 else x

  private def scenario2(geodetic: Boolean, i: Int): Gen[Scenario2] = for {
    e <- if (geodetic) Gen.choose(1.0, 10.0) else Gen.choose(2.0, 20.0)
    ox <- if (geodetic) Gen.choose(-180.0, 179.0) else Gen.choose(-170.0, 150.0)
    oy <- Gen.choose(-70.0, 60.0)
    n <- Gen.choose(15, 50)
    xy <- Gen.listOfN(n, Gen.zip(coord(ox, e), coord(oy, e)))
    vs <- Gen.listOfN(n, Gen.choose(-10.0, 10.0))
    idBase <- Gen.choose(-100L, 100L)
    pxy <- Gen.listOfN(ProbesPerScenario, Gen.zip(coord(ox, e), coord(oy, e)))
    qidBase <- Gen.choose(-30L, 30L)
    k <- Gen.choose(1, 8)
    // a unit of distance: degrees, or metres along the ECEF chord
    unit = if (geodetic) e * 111000.0 / 4 else e / 4
    radius <- Gen.frequency(2 -> Gen.const(Double.PositiveInfinity),
      1 -> Gen.choose(0.5, 3.0).map(_ * unit))
    ball <- Gen.choose(0.2, 1.0).map(_ * unit)
    precision <- Gen.oneOf(6, 8, 10, 12, 14)
    kernel <- Gen.oneOf("boxcar", "blackman", "gaussian")
  } yield {
    val wrap: Double => Double = if (geodetic) lon else identity
    val build = xy.zip(vs).zipWithIndex.map { case (((x, y), v), i) =>
      (wrap(x), y, v, idBase + 3L * i) }
    val probes = pxy.zipWithIndex.map { case ((x, y), j) =>
      (qidBase + 2L * j - 40L, wrap(x), y) }
    val bc = KnnJoin.Config(k = k, radius = radius, precision = precision,
      geodetic = geodetic, broadcastThreshold = Long.MaxValue,
      windowKernel = kernel, saltFactor = salt(i))
    val other =
      if (capped(i)) bc.copy(maxBroadcastRows = n / 2L)
      else bc.copy(broadcastThreshold = 0L)
    Scenario2(build, probes, bc, other, ball, unit)
  }

  private def rowsByQid(df: DataFrame): Map[Long, Seq[String]] =
    df.collect().toSeq.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.mkString("|")).sorted }

  private val faces2Names = Seq("knnJoinFlat", "idw", "windowFunction",
    "rbf", "kriging", "optimalInterpolation")

  /** Faces compared on exact probes, by name. */
  private def faces2(s: Scenario2)
      : Seq[(String, KnnJoin.Config => DataFrame)] = {
    val b = s.build.toDF("x", "y", "value", "id")
    val p = s.probes.toDF("qid", "x", "y")
    val dims = if (s.bc.geodetic) 3 else 2
    Seq(
      "knnJoinFlat" -> (c => KnnJoin.knnJoinFlat(spark, b, p, c)),
      "idw" -> (c => KnnJoin.idw(spark, b, p, c)),
      "windowFunction" -> (c => KnnJoin.windowFunction(spark, b, p, c)),
      "rbf" -> (c => KnnJoin.rbf(spark, b, p, c, kernel = "thin_plate")),
      "kriging" -> (c => KnnJoin.kriging(spark, b, p, c, lambda = 2 * s.unit,
        drift = Some("linear"))),
      "optimalInterpolation" -> (c => KnnJoin.optimalInterpolation(spark, b,
        p, c, sigma2 = 1.0, lengthScales = Array.fill(dims)(2 * s.unit),
        obsSigma2 = 0.01)))
  }

  /** Compared probes per face in one 2-D scenario. */
  private def check2(s: Scenario2, label: String): Map[String, Int] = {
    val b = s.build.toDF("x", "y", "value", "id")
    val p = s.probes.toDF("qid", "x", "y")
    val exact = KnnJoin.neighbors(spark, b, p, s.other).collect()
      .filter(_.exact).map(_.qid).toSet
    val faces = for ((name, face) <- faces2(s)) yield {
      val want = rowsByQid(face(s.bc))
      val got = rowsByQid(face(s.other))
      for (q <- exact)
        assert(got.get(q) == want.get(q), s"$name, $label (${s.other}), qid $q")
      name -> exact.size
    }
    val want = KnnJoin.distanceJoin(spark, b, p, s.ballRadius, s.bc)
    val got = KnnJoin.distanceJoin(spark, b, p, s.ballRadius, s.other)
    assert(rowsByQid(got) == rowsByQid(want),
      s"distanceJoin, $label (${s.other}), radius ${s.ballRadius}")
    (faces :+ ("distanceJoin" -> s.probes.size)).toMap
  }

  /** Runs `check` on every scenario, a few at a time: the cases are tiny,
    * so Spark's per-job fixed cost dominates and concurrent jobs hide it.
    */
  private def concurrently[T](n: Int)(check: Int => T): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(
      Future.traverse((0 until n).toList)(i => Future(check(i))),
      Duration.Inf)
    finally pool.shutdown()
  }

  private def checkKind(geodetic: Boolean, seed0: Long): Unit = {
    val compared = concurrently(ScenariosPerKind) { i =>
      check2(scenario2(geodetic, i).pureApply(Params, Seed(seed0 + i)),
        s"scenario $i")
    }.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    info(s"compared probes per face: $compared")
    assert(compared.keySet == (faces2Names :+ "distanceJoin").toSet)
    compared.foreach { case (name, n) =>
      assert(n >= MinCompared, s"$name compared only $n probes")
    }
  }

  test("2-D cartesian: every face, broadcast == shuffle on exact probes") {
    checkKind(geodetic = false, seed0 = 1000L)
  }

  test("geodetic: every face, broadcast == shuffle on exact probes") {
    checkKind(geodetic = true, seed0 = 2000L)
  }

  private def scenario4(i: Int): Gen[Scenario4] = for {
    e <- Gen.choose(2.0, 20.0)
    o1 <- Gen.choose(-50.0, 50.0)
    o2 <- Gen.choose(-50.0, 50.0)
    n <- Gen.choose(15, 50)
    pts <- Gen.listOfN(n, Gen.zip(coord(o1, e), coord(o2, e),
      Gen.choose(0, 3).map(_.toDouble), Gen.choose(0.0, 2.0)))
    obs <- Gen.listOfN(n, Gen.zip(Gen.choose(-10.0, 10.0),
      Gen.choose(0.01, 1.0)))
    idBase <- Gen.choose(-100L, 100L)
    probes <- Gen.listOfN(ProbesPerScenario, Gen.zip(coord(o1, e),
      coord(o2, e), Gen.choose(0.0, 3.0), Gen.choose(0.0, 2.0)))
    qidBase <- Gen.choose(-30L, 30L)
    k <- Gen.choose(1, 8)
    radius <- Gen.frequency(2 -> Gen.const(Double.PositiveInfinity),
      1 -> Gen.choose(0.1, 0.8).map(_ * e))
    // > e: every point lies in the probe's 3x3 block
    cellSize <- Gen.choose(1.01, 3.0).map(_ * e)
  } yield {
    val build = pts.zip(obs).zipWithIndex.map {
      case (((a, b, c, d), (v, s2)), i) => (a, b, c, d, v, s2, idBase + 3L * i)
    }
    val ps = probes.zipWithIndex.map { case ((a, b, c, d), j) =>
      (qidBase + 2L * j - 40L, a, b, c, d) }
    val bc = KnnJoin4D.Config4(k = k, radius = radius, cellSize = cellSize,
      broadcastThreshold = Long.MaxValue, saltFactor = salt(i))
    val other =
      if (capped(i)) bc.copy(maxBroadcastRows = n / 2L)
      else bc.copy(broadcastThreshold = 0L)
    Scenario4(build, ps, bc, other, e / 3)
  }

  test("4-D: knnJoinFlat and OI, broadcast == shuffle") {
    val compared = concurrently(ScenariosPerKind) { i =>
      val s = scenario4(i).pureApply(Params, Seed(3000L + i))
      val b = s.build.toDF("x1", "x2", "x3", "x4", "value", "sigma2", "id")
      val p = s.probes.toDF("qid", "x1", "x2", "x3", "x4")
      def flat(c: KnnJoin4D.Config4) =
        rowsByQid(KnnJoin4D.knnJoinFlat(spark, b, p, c))
      def oi(c: KnnJoin4D.Config4) =
        rowsByQid(KnnJoin4D.optimalInterpolation(spark, b, p, c,
          sigma2Field = 1.0, lengthScales = Array(s.scale, s.scale, 1.0, 1.0)))
      assert(flat(s.other) == flat(s.bc), s"flat, scenario $i (${s.other})")
      val oiBc = oi(s.bc)
      assert(oiBc.size == s.probes.size)
      assert(oi(s.other) == oiBc, s"OI, scenario $i (${s.other})")
      s.probes.size
    }.sum
    assert(compared >= MinCompared)
  }

  test("4-D OI reads each neighbor's own sigma2 when ids repeat") {
    // two far-apart observations share id 7 but not sigma2; with radius 3
    // each probe sees only the observation next to it
    val build = Seq(
      (0.0, 0.0, 0.0, 0.0, 2.0, 0.1, 7L),
      (100.0, 100.0, 0.0, 0.0, 5.0, 0.9, 7L))
      .toDF("x1", "x2", "x3", "x4", "value", "sigma2", "id")
    val probe = Seq((1L, 1.0, 0.5, 0.0, 0.0), (2L, 99.0, 100.5, 0.0, 0.0))
      .toDF("qid", "x1", "x2", "x3", "x4")
    val ls = Array(2.0, 2.0, 1.0, 1.0)
    val bcCfg = KnnJoin4D.Config4(k = 4, radius = 3.0, cellSize = 4.0,
      broadcastThreshold = Long.MaxValue)
    def oi(cfg: KnnJoin4D.Config4) =
      KnnJoin4D.optimalInterpolation(spark, build, probe, cfg,
        sigma2Field = 1.0, lengthScales = ls).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getInt(3)))
        .toMap
    val viaBc = oi(bcCfg)
    assert(viaBc == oi(bcCfg.copy(broadcastThreshold = 0L)))
    // one-observation BLUE: w = K / (K(0) + s2), value = w y,
    // error = 1 - K w, with K = exp(-r²/2) on the scaled offset
    def blue(dx: Double, dy: Double, y: Double, s2: Double) = {
      val kq = math.exp(-0.5 * ((dx / 2) * (dx / 2) + (dy / 2) * (dy / 2)))
      val w = kq / (1.0 + s2)
      (y * w, 1.0 - kq * w)
    }
    for ((qid, (dx, dy, y, s2)) <- Seq(1L -> (1.0, 0.5, 2.0, 0.1),
        2L -> (1.0, 0.5, 5.0, 0.9))) {
      val (v, err) = blue(dx, dy, y, s2)
      val (gv, gerr, n) = viaBc(qid)
      assert(n == 1 && math.abs(gv - v) < 1e-12 && math.abs(gerr - err) < 1e-12,
        s"qid $qid: ($gv, $gerr) vs BLUE ($v, $err)")
    }
  }
}

object KnnParitySpec {
  final case class Scenario2(build: Seq[(Double, Double, Double, Long)],
      probes: Seq[(Long, Double, Double)], bc: KnnJoin.Config,
      other: KnnJoin.Config, ballRadius: Double, unit: Double)

  final case class Scenario4(
      build: Seq[(Double, Double, Double, Double, Double, Double, Long)],
      probes: Seq[(Long, Double, Double, Double, Double)],
      bc: KnnJoin4D.Config4, other: KnnJoin4D.Config4, scale: Double)
}
