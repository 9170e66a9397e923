package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.KdTree

/** 4-D cartesian kNN join + optimal interpolation — the engine's analog
  * of the reference RTree4D (`pybind/rtree4d.hpp:31-117`): pure-cartesian
  * (x1, x2, x3, x4) points carrying (value, sigma2) observations,
  * k-nearest queries and BLUE optimal interpolation with per-observation
  * error variance.
  *
  * Distribution mirrors [[KnnJoin]]: broadcast k-d tree (dims = 4) below
  * the size threshold; otherwise the build side is bucketed on the first
  * two dimensions (`cellSize` grid, 3x3 replication) and cogrouped —
  * correct whenever the k-th neighbor ball fits the block, the usual
  * cell-join contract. Dimensions 3/4 ride unbucketed inside the cell
  * trees (they are time/level axes with small extent in the reference's
  * use).
  */
object KnnJoin4D {

  /** `broadcastThreshold` is a row count applied to Catalyst's byte
    * estimate at ~48 B/row (no counting scan); `maxBroadcastRows` is the
    * HARD collect-time cap — when the estimate undershoots, the limited
    * collect detects it and the call falls over to the shuffle path
    * (same safety contract as [[KnnJoin.Config]]).
    */
  final case class Config4(
      k: Int = 8,
      radius: Double = Double.PositiveInfinity,
      cellSize: Double = 1.0,
      broadcastThreshold: Long = 500000L,
      saltFactor: Int = 1,
      maxBroadcastRows: Long = 4000000L)

  case class B4(key: Long, c: Array[Double], value: Double,
                        sigma2: Double, id: Long)
  case class P4(key: Long, qid: Long, c: Array[Double])

  private def cellKey(x1: Double, x2: Double, cs: Double, dx: Int,
                      dy: Int, salt: Int, s: Int): Long = {
    val ix = math.floor(x1 / cs).toLong + dx
    val iy = math.floor(x2 / cs).toLong + dy
    ((ix * 2097169L + iy) * 2097169L) * salt + s
  }

  private def useBroadcast(build: DataFrame, cfg: Config4): Boolean =
    if (cfg.broadcastThreshold <= 0L) false
    else if (cfg.broadcastThreshold == Long.MaxValue) true
    else build.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(cfg.broadcastThreshold) * 48

  /** Flat kNN rows (qid, nid, dist, value, sigma2, rank). */
  def knnJoinFlat(spark: SparkSession, build: DataFrame, probe: DataFrame,
                  cfg: Config4): DataFrame = {
    import spark.implicits._
    val k = cfg.k
    val radius = cfg.radius
    val cs = cfg.cellSize
    val salt = math.max(1, cfg.saltFactor)
    val buildTyped = build.select(col("x1").cast("double"),
        col("x2").cast("double"), col("x3").cast("double"),
        col("x4").cast("double"), col("value").cast("double"),
        col("sigma2").cast("double"), col("id").cast("long"))
      .as[(Double, Double, Double, Double, Double, Double, Long)]
    val probeTyped = probe.select(col("qid").cast("long"),
        col("x1").cast("double"), col("x2").cast("double"),
        col("x3").cast("double"), col("x4").cast("double"))
      .as[(Long, Double, Double, Double, Double)]

    // sigma2 rides as the second payload via id-indexed lookup arrays in
    // the broadcast path and inside B4 on the shuffle path
    val collected =
      if (useBroadcast(build, cfg))
        KnnJoin.collectCapped(buildTyped, cfg.maxBroadcastRows)
      else None
    if (collected.isDefined) {
      val pts = collected.get
      val tree = KdTree.build(pts.iterator.map(p =>
        (Array(p._1, p._2, p._3, p._4), p._5, p._7)), 4)
      val sigmaById = pts.map(p => p._7 -> p._6).toMap
      val bc = spark.sparkContext.broadcast((tree, sigmaById))
      probeTyped.flatMap { case (qid, a, b, c, d) =>
        val (t, sig) = bc.value
        t.query(Array(a, b, c, d), k, radius).iterator.zipWithIndex.map {
          case ((dist, v, id), i) => (qid, id, dist, v, sig(id), i + 1)
        }
      }.toDF("qid", "nid", "dist", "value", "sigma2", "rank")
    } else {
      val replicated = buildTyped.flatMap { p =>
        for {
          dx <- -1 to 1
          dy <- -1 to 1
          s <- 0 until salt
        } yield (cellKey(p._1, p._2, cs, dx, dy, salt, s),
          B4(0L, Array(p._1, p._2, p._3, p._4), p._5, p._6, p._7))
      }
      val salted = probeTyped.map { case (qid, a, b, c, d) =>
        val s = if (salt == 1) 0 else (qid % salt).toInt
        (cellKey(a, b, cs, 0, 0, salt, s), P4(0L, qid, Array(a, b, c, d)))
      }
      replicated.groupByKey(_._1)
        .cogroup(salted.groupByKey(_._1)) { (_, bIt, pIt) =>
          val probes = pIt.map(_._2).toArray
          if (probes.isEmpty) Iterator.empty
          else {
            val rows = bIt.map(_._2).toArray
            if (rows.isEmpty) Iterator.empty
            else {
              val tree = KdTree.build(rows.iterator.map(r =>
                (r.c, r.value, r.id)), 4)
              val sigmaById = rows.map(r => r.id -> r.sigma2).toMap
              probes.iterator.flatMap { p =>
                tree.query(p.c, k, radius).iterator.zipWithIndex.map {
                  case ((dist, v, id), i) =>
                    (p.qid, id, dist, v, sigmaById(id), i + 1)
                }
              }
            }
          }
        }
        .toDF("qid", "nid", "dist", "value", "sigma2", "rank")
    }
  }

  case class Nbr4(qid: Long, q: Array[Double],
                  coords: Array[Array[Double]], values: Array[Double],
                  sigmas: Array[Double])

  /** Coordinate-carrying neighbors — broadcast OR cell-cogroup shuffle,
    * chosen exactly like [[knnJoinFlat]] (nothing collects above the
    * threshold).
    */
  private def neighborsWithCoords(spark: SparkSession, build: DataFrame,
      probe: DataFrame, cfg: Config4)
      : org.apache.spark.sql.Dataset[Nbr4] = {
    import spark.implicits._
    val k = cfg.k
    val radius = cfg.radius
    val cs = cfg.cellSize
    val salt = math.max(1, cfg.saltFactor)
    val buildTyped = build.select(col("x1").cast("double"),
        col("x2").cast("double"), col("x3").cast("double"),
        col("x4").cast("double"), col("value").cast("double"),
        col("sigma2").cast("double"), col("id").cast("long"))
      .as[(Double, Double, Double, Double, Double, Double, Long)]
    val probeTyped = probe.select(col("qid").cast("long"),
        col("x1").cast("double"), col("x2").cast("double"),
        col("x3").cast("double"), col("x4").cast("double"))
      .as[(Long, Double, Double, Double, Double)]
    val collected =
      if (useBroadcast(build, cfg))
        KnnJoin.collectCapped(buildTyped, cfg.maxBroadcastRows)
      else None
    if (collected.isDefined) {
      val pts = collected.get
      val tree = KdTree.build(pts.iterator.map(p =>
        (Array(p._1, p._2, p._3, p._4), p._5, p._7)), 4)
      val byId = pts.map(p => p._7 -> p).toMap
      val bc = spark.sparkContext.broadcast((tree, byId))
      probeTyped.map { case (qid, a, b, c, d) =>
        val (t, lookup) = bc.value
        val q = Array(a, b, c, d)
        val res = t.queryWithCoords(q, k, radius)
        Nbr4(qid, q, res.map(_._4), res.map(_._2),
          res.map(r => lookup(r._3)._6))
      }
    } else {
      val replicated = buildTyped.flatMap { p =>
        for {
          dx <- -1 to 1
          dy <- -1 to 1
          s <- 0 until salt
        } yield (cellKey(p._1, p._2, cs, dx, dy, salt, s),
          B4(0L, Array(p._1, p._2, p._3, p._4), p._5, p._6, p._7))
      }
      val salted = probeTyped.map { case (qid, a, b, c, d) =>
        val s = if (salt == 1) 0 else (qid % salt).toInt
        (cellKey(a, b, cs, 0, 0, salt, s), P4(0L, qid, Array(a, b, c, d)))
      }
      replicated.groupByKey(_._1)
        .cogroup(salted.groupByKey(_._1)) { (_, bIt, pIt) =>
          val probes = pIt.map(_._2).toArray
          if (probes.isEmpty) Iterator.empty
          else {
            val rows = bIt.map(_._2).toArray
            if (rows.isEmpty)
              probes.iterator.map(p => Nbr4(p.qid, p.c, Array.empty,
                Array.empty, Array.empty))
            else {
              val tree = KdTree.build(rows.iterator.map(r =>
                (r.c, r.value, r.id)), 4)
              val sigmaById = rows.map(r => r.id -> r.sigma2).toMap
              probes.iterator.map { p =>
                val res = tree.queryWithCoords(p.c, k, radius)
                Nbr4(p.qid, p.c, res.map(_._4), res.map(_._2),
                  res.map(r => sigmaById(r._3)))
              }
            }
          }
        }
    }
  }

  /** Optimal interpolation (BLUE) over the 4-D neighbors with
    * per-observation error variance (`rtree4d.hpp:105-117`).
    */
  def optimalInterpolation(spark: SparkSession, build: DataFrame,
      probe: DataFrame, cfg: Config4, sigma2Field: Double,
      lengthScales: Array[Double],
      kernel: String = "gaussian"): DataFrame = {
    import spark.implicits._
    val model = new graft.core.OptimalInterpolation(sigma2Field,
      lengthScales, kernel)
    neighborsWithCoords(spark, build, probe, cfg).map { r =>
      val (v, err, n) = model.solve(r.coords, r.values, r.sigmas, r.q)
      (r.qid, v, err, n)
    }.toDF("qid", "value", "error_variance", "neighbors")
  }
}
