package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** 4-D cartesian kNN join + optimal interpolation — the engine's analog
  * of the reference RTree4D (`pybind/rtree4d.hpp:31-117`): pure-cartesian
  * (x1, x2, x3, x4) points carrying (value, sigma2) observations,
  * k-nearest queries and BLUE optimal interpolation with per-observation
  * error variance. Both faces run on [[KnnJoin]]'s search core with a
  * `cellSize` grid on (x1, x2) as the shuffle path's cell space; each
  * neighbor's `sigma2` is read from its own build row.
  */
object KnnJoin4D {

  /** `broadcastThreshold` is a row count applied to Catalyst's byte
    * estimate at 56 B/row (7 selected columns; no counting scan);
    * `maxBroadcastRows` is the HARD collect-time cap — when the estimate
    * undershoots, the limited collect detects it and the call falls over
    * to the shuffle path (same safety contract as [[KnnJoin.Config]]).
    */
  final case class Config4(
      k: Int = 8,
      radius: Double = Double.PositiveInfinity,
      cellSize: Double = 1.0,
      broadcastThreshold: Long = 500000L,
      saltFactor: Int = 1,
      maxBroadcastRows: Long = 4000000L)

  private def search4d(cfg: Config4): KnnJoin.Search =
    KnnJoin.Search(Seq("x1", "x2", "x3", "x4"), Some("sigma2"),
      geodetic = false, cfg.broadcastThreshold, cfg.maxBroadcastRows,
      cfg.saltFactor, () => KnnJoin.GridCells(cfg.cellSize))

  /** Flat kNN rows (qid, nid, dist, value, sigma2, rank). */
  def knnJoinFlat(spark: SparkSession, build: DataFrame, probe: DataFrame,
                  cfg: Config4): DataFrame = {
    import spark.implicits._
    val k = cfg.k
    val radius = cfg.radius
    KnnJoin.search(spark, build, probe, search4d(cfg)) { (b, p, _) =>
      b.tree.nearest(p.c, k, radius).iterator.zipWithIndex.map {
        case ((d, i), rank) =>
          (p.qid, b.tree.id(i), d, b.tree.value(i), b.sigma2(i), rank + 1)
      }
    }.toDF("qid", "nid", "dist", "value", "sigma2", "rank")
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
    KnnJoin.search(spark, build, probe, search4d(cfg))(
      KnnJoin.nearestWithCoords(cfg.k, cfg.radius)).map { r =>
      val (v, err, n) = model.solve(r.coords, r.values, r.sigma2, r.q)
      (r.qid, v, err, n)
    }.toDF("qid", "value", "error_variance", "neighbors")
  }
}
