package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GeoHash, Geodesy, KdTree}

/** Distributed kNN join + scattered-data interpolation.
  *
  * Re-expresses the reference R-tree queries
  * (`/root/reference/cxx/include/pyinterp/geometry/rtree.hpp:306-429`,
  * IDW `:398-429`, window function `:500-535`, RTree4D
  * `pybind/rtree4d.hpp:31-117`) as a cell-partitioned Spark join. One
  * search core ([[search]]) serves every face:
  *
  *   - both sides are keyed by a cell space: GeoHash cells
  *     ([[graft.core.GeoHash]], precision `cfg.precision`) for 2-D and
  *     geodetic points, a `cellSize` grid on (x1, x2) for 4-D points
  *     ([[KnnJoin4D]]; x3/x4 ride unbucketed inside the cell trees — they
  *     are time/level axes with small extent in the reference's use);
  *   - the build side is **replicated to its 8 neighbor cells**, so each
  *     probe point sees every build point of its 3x3 cell block — the
  *     distributed analog of the reference's global-tree border
  *     correctness (`geohash/int64.hpp:103-113` neighbors);
  *   - one shuffle co-groups by cell; each group builds an in-memory
  *     k-d tree (≙ boost R*-tree) and answers its probes with a bounded
  *     heap — per-partition state exactly like the reference's per-thread
  *     interpolators (`parallel_for.hpp:30-76`);
  *   - geodetic inputs are ranked by ECEF chord distance
  *     (`pybind/rtree.hpp:253-275`), cartesian by euclidean distance;
  *   - each face (k-nearest, k-nearest with coordinates, ball) is a
  *     per-probe answer function over the searched block.
  *
  * kNN across-block correctness holds when the k-th neighbor distance is
  * at most one cell size; `exact` flags rows where this is violated so
  * callers can re-run those at coarser precision. Small build sides are
  * broadcast instead (no shuffle at all) — the size-based
  * broadcast-vs-shuffle choice required by the north star.
  */
object KnnJoin {

  /** k/radius defaults follow `config/rtree.hpp:88-94`.
    *
    * `saltFactor > 1` splits each cell's PROBE rows across that many salt
    * buckets and replicates the build rows to all of them — explicit
    * hot-cell (dense imagery region) skew handling for the shuffle path,
    * where AQE's skew-join rewrite does not apply to object cogroups.
    *
    * `boundaryCheck` (`geometry/rtree.hpp:37-46,582-616`): "none",
    * "envelope" (query inside the neighbors' AABB) or "convex_hull" (2-D
    * cartesian only, like the reference rejects 4-D); an invalid
    * neighborhood empties the result (interpolators yield NaN + 0
    * neighbors).
    *
    * `broadcastThreshold` is a ROW-count threshold applied to Catalyst's
    * optimizer BYTE estimate at 8 bytes per selected column (32 B for
    * (x, y, value, id); no counting scan; 0 forces shuffle, Long.MaxValue
    * forces broadcast). Because a post-filter estimate is a selectivity
    * heuristic that can undershoot, `maxBroadcastRows` is the HARD safety
    * cap actually enforced at collect time: the broadcast path collects at
    * most that many rows and falls over to the shuffle path if the limit
    * is hit — the driver can never be asked to hold an arbitrarily large
    * build side.
    */
  final case class Config(
      k: Int = 8,
      radius: Double = Double.PositiveInfinity,
      precision: Int = 24,
      geodetic: Boolean = true,
      broadcastThreshold: Long = 500000L,
      idwPower: Int = 2,
      windowKernel: String = "blackman",
      windowArg: Double = 0.0,
      saltFactor: Int = 1,
      boundaryCheck: String = "none",
      maxBroadcastRows: Long = 4000000L)

  /** One observation of the build side: tree position `c` (ECEF when
    * geodetic), its value, error variance (0 unless the face reads a
    * `sigma2` column) and id, and its unsalted `cell` (0 on the broadcast
    * path).
    */
  case class BuildRow(cell: Long, c: Array[Double], value: Double,
                      sigma2: Double, id: Long)
  case class ProbeRow(cell: Long, qid: Long, c: Array[Double])

  /** `exact` is the shuffle path's self-check (SURVEY §7.4): true when
    * the searched ball (the k-th neighbor distance, or `radius` when
    * fewer than k points lie within it) provably fits inside the probe's
    * 3x3 cell block, so the block-local answer equals the global answer;
    * always true on the broadcast path. Callers can requery flagged rows
    * at a coarser precision.
    */
  case class KnnNeighbors(qid: Long, dists: Array[Double],
                          values: Array[Double], ids: Array[Long], n: Int,
                          exact: Boolean)

  /** Probe point + neighbor coordinates/values/error variances, for the
    * solvers that need positions (RBF, kriging, OI). `exact` has the same
    * block-cover meaning as [[KnnNeighbors.exact]].
    */
  case class NbrWithCoords(qid: Long, q: Array[Double],
                           coords: Array[Array[Double]],
                           values: Array[Double], sigma2: Array[Double],
                           exact: Boolean)

  /** Where the shuffle path puts a point: the cell of its first two raw
    * coordinates, the 3x3 block of cells around a cell, and whether a ball
    * of radius `d` around a probe provably stays inside its block.
    */
  private[operators] sealed trait CellSpace extends Serializable {
    def cell(a: Double, b: Double): Long
    def block(cell: Long): Iterator[Long]
    def ballInside(p: ProbeRow, d: Double): Boolean
  }

  /** GeoHash cells of (x, y) — lon/lat when geodetic. */
  private[operators] final case class GeoHashCells(precision: Int,
      geodetic: Boolean) extends CellSpace {
    def cell(x: Double, y: Double): Long = GeoHash.encode(x, y, precision)
    def block(cell: Long): Iterator[Long] =
      Iterator.single(cell) ++ GeoHash.neighbors(cell, precision).iterator
    def ballInside(p: ProbeRow, d: Double): Boolean =
      ballInsideBlock(p, d, precision, geodetic)
  }

  /** A `size` grid on (x1, x2), keyed ((ix·P + iy)·P). A neighbor's key is
    * the cell's plus (dx·P + dy)·P: exact in wrapping Long arithmetic.
    * Claims no exactness (the 4-D faces report none).
    */
  private[operators] final case class GridCells(size: Double)
      extends CellSpace {
    private final val P = 2097169L
    def cell(x1: Double, x2: Double): Long =
      (math.floor(x1 / size).toLong * P + math.floor(x2 / size).toLong) * P
    def block(cell: Long): Iterator[Long] =
      for (dx <- Iterator(-1L, 0L, 1L); dy <- Iterator(-1L, 0L, 1L))
        yield cell + (dx * P + dy) * P
    def ballInside(p: ProbeRow, d: Double): Boolean = false
  }

  /** What a face searches: its coordinate columns (the first two key the
    * cell space), the optional per-row error-variance column, whether
    * (x, y) are lon/lat ranked in ECEF, the broadcast gate, the probe salt
    * and — evaluated on the shuffle path only — its cell space.
    */
  private[operators] final case class Search(coords: Seq[String],
      sigma2: Option[String], geodetic: Boolean, broadcastThreshold: Long,
      maxBroadcastRows: Long, saltFactor: Int, cells: () => CellSpace)

  private def search2d(cfg: Config): Search =
    Search(Seq("x", "y"), None, cfg.geodetic, cfg.broadcastThreshold,
      cfg.maxBroadcastRows, cfg.saltFactor,
      () => GeoHashCells(cfg.precision, cfg.geodetic))

  /** A searched block: the k-d tree over the block's build rows and their
    * error variances, both indexed by build position.
    */
  private[operators] final class Block(rows: Array[BuildRow], dims: Int)
      extends Serializable {
    val tree: KdTree =
      KdTree.build(rows.iterator.map(r => (r.c, r.value, r.id)), dims)
    val sigma2: Array[Double] = rows.map(_.sigma2)
  }

  /** Broadcast-vs-shuffle choice WITHOUT a counting scan: thresholds 0 /
    * Long.MaxValue force a path outright; otherwise the decision uses
    * Catalyst's optimizer size estimate (file statistics — no job) at
    * `rowBytes` per build row. A full `count()` here would read the
    * entire 100-TB build side before any work.
    */
  private def useBroadcast(build: DataFrame, threshold: Long,
      rowBytes: Long): Boolean =
    if (threshold <= 0L) false
    else if (threshold == Long.MaxValue) true
    else build.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(threshold) * rowBytes

  /** Hard safety cap behind the no-scan estimate: collect at most cap+1
    * rows. If the limit is hit the estimate undershot (post-filter
    * selectivity lies) and the caller MUST fall over to the shuffle path.
    * When fewer than cap+1 rows come back they ARE the complete build side
    * (the limit was not the binding constraint), so no second scan runs.
    */
  private def collectCapped[T](ds: Dataset[T], cap: Long): Option[Array[T]] = {
    val lim = math.min(cap, Int.MaxValue.toLong - 2L).toInt
    // cheap overflow probe first (r3 ADVICE): counting limit(cap+1) keeps
    // the up-to-cap+1 overflow rows on an executor, not as a transient
    // ~GB of driver heap that is allocated only to be discarded. Only a
    // confirmed under-cap build side is collected for real.
    val n = ds.limit(lim + 1).count()
    if (n > lim) None else Some(ds.limit(lim + 1).collect())
  }

  /** Tree position of raw coordinates: ECEF for geodetic lon/lat. */
  private def position(raw: Array[Double], geodetic: Boolean)
      : Array[Double] =
    if (!geodetic) raw
    else {
      val (a, b, c) = Geodesy.llaToEcef(raw(0), raw(1), 0.0)
      Array(a, b, c)
    }

  private def coordsOf(r: Row, from: Int, n: Int): Array[Double] =
    Array.tabulate(n)(i => r.getDouble(from + i))

  private def buildRows(spark: SparkSession, build: DataFrame, s: Search,
      cell: (Double, Double) => Long): Dataset[BuildRow] = {
    import spark.implicits._
    val n = s.coords.size
    val geodetic = s.geodetic
    val hasSigma2 = s.sigma2.isDefined
    build.select((s.coords.map(col(_).cast("double")) ++
        (col("value") +: s.sigma2.map(col).toSeq).map(_.cast("double")) :+
        col("id").cast("long")): _*)
      .map { r =>
        val raw = coordsOf(r, 0, n)
        BuildRow(cell(raw(0), raw(1)), position(raw, geodetic),
          r.getDouble(n), if (hasSigma2) r.getDouble(n + 1) else 0.0,
          r.getLong(r.length - 1))
      }
  }

  private def probeRows(spark: SparkSession, probe: DataFrame, s: Search,
      cell: (Double, Double) => Long): Dataset[ProbeRow] = {
    import spark.implicits._
    val n = s.coords.size
    val geodetic = s.geodetic
    probe.select(col("qid").cast("long") +:
        s.coords.map(col(_).cast("double")): _*)
      .map { r =>
        val raw = coordsOf(r, 1, n)
        ProbeRow(cell(raw(0), raw(1)), r.getLong(0), position(raw, geodetic))
      }
  }

  /** The one search core behind every face: `answer(block, probe,
    * inBlock)` answers one probe from the block it searched, where
    * `inBlock(d)` tells whether a ball of radius `d` around the probe lies
    * inside that block (always on the broadcast path, whose block is the
    * whole build side).
    *
    * Broadcast path: the build side is collected under the hard cap and
    * every partition probes one shared tree. Shuffle path (or a capped
    * collect that overflowed): build rows are replicated to their 3x3 cell
    * block and every salt bucket, probes go to one salt bucket of their
    * cell, and each cogrouped (cell, salt) group builds its own tree.
    */
  private[operators] def search[R: Encoder](spark: SparkSession,
      build: DataFrame, probe: DataFrame, s: Search)(
      answer: (Block, ProbeRow, Double => Boolean) => Iterator[R])
      : Dataset[R] = {
    import spark.implicits._
    val dims = if (s.geodetic) 3 else s.coords.size
    val noCell = (_: Double, _: Double) => 0L
    val rowBytes = 8L * (s.coords.size + 2 + s.sigma2.size)
    val collected =
      if (useBroadcast(build, s.broadcastThreshold, rowBytes))
        collectCapped(buildRows(spark, build, s, noCell), s.maxBroadcastRows)
      else None
    collected match {
      case Some(rows) =>
        val bc = spark.sparkContext.broadcast(new Block(rows, dims))
        probeRows(spark, probe, s, noCell).mapPartitions { it =>
          val b = bc.value
          it.flatMap(p => answer(b, p, _ => true))
        }
      case None =>
        val cells = s.cells()
        val salt = math.max(1, s.saltFactor)
        val replicated = buildRows(spark, build, s, cells.cell).flatMap { b =>
          cells.block(b.cell).flatMap { c =>
            (0 until salt).iterator.map(i => (c * salt + i, b))
          }
        }
        val salted = probeRows(spark, probe, s, cells.cell).map { p =>
          (p.cell * salt + Math.floorMod(p.qid, salt.toLong), p)
        }
        replicated.groupByKey(_._1)
          .cogroup(salted.groupByKey(_._1)) { (_, bIt, pIt) =>
            val probes = pIt.map(_._2).toArray
            if (probes.isEmpty) Iterator.empty
            else {
              val b = new Block(bIt.map(_._2).toArray, dims)
              probes.iterator.flatMap(p =>
                answer(b, p, d => cells.ballInside(p, d)))
            }
          }
    }
  }

  /** Radius of the ball a k-nearest answer searched: the k-th distance,
    * or the query radius when fewer than k points lie within it.
    */
  private def searched(res: Array[(Double, Int)], k: Int,
      radius: Double): Double =
    if (res.length >= k) res(res.length - 1)._1 else radius

  /** Core: k nearest neighbors per probe point.
    *
    * @param build DataFrame with columns (x, y, value, id); x/y are
    *              lon/lat when geodetic
    * @param probe DataFrame with columns (qid, x, y)
    * @return Dataset[KnnNeighbors]
    */
  def neighbors(spark: SparkSession, build: DataFrame, probe: DataFrame,
                cfg: Config): Dataset[KnnNeighbors] = {
    import spark.implicits._
    val k = cfg.k
    val radius = cfg.radius
    search(spark, build, probe, search2d(cfg)) { (b, p, inBlock) =>
      val res = b.tree.nearest(p.c, k, radius)
      Iterator.single(KnnNeighbors(p.qid, res.map(_._1),
        res.map(r => b.tree.value(r._2)), res.map(r => b.tree.id(r._2)),
        res.length, inBlock(searched(res, k, radius))))
    }
  }

  /** k nearest neighbors with their coordinates and error variances. */
  private[operators] def nearestWithCoords(k: Int, radius: Double)(
      b: Block, p: ProbeRow, inBlock: Double => Boolean)
      : Iterator[NbrWithCoords] = {
    val res = b.tree.nearest(p.c, k, radius)
    Iterator.single(NbrWithCoords(p.qid, p.c,
      res.map(r => b.tree.point(r._2)), res.map(r => b.tree.value(r._2)),
      res.map(r => b.sigma2(r._2)), inBlock(searched(res, k, radius))))
  }

  /** Conservative exactness test for the shuffle path: the ball of the
    * k-th neighbor distance around the probe point must fit inside its
    * 3x3 cell block. Geodetic chord distances are converted to degree
    * margins with a safety factor.
    */
  private def ballInsideBlock(p: ProbeRow, dK: Double, precision: Int,
      geodetic: Boolean): Boolean = {
    // p.cell carries the original (unsalted) cell id
    val (x0, y0, x1, y1) = GeoHash.boundingBox(p.cell, precision)
    val (lonErr, latErr) = GeoHash.errorWithPrecision(precision)
    val bx0 = x0 - lonErr
    val bx1 = x1 + lonErr
    val by0 = y0 - latErr
    val by1 = y1 + latErr
    if (!geodetic) {
      p.c(0) - dK >= bx0 && p.c(0) + dK <= bx1 &&
        p.c(1) - dK >= by0 && p.c(1) + dK <= by1
    } else {
      // chord meters -> degree margins (conservative 1.05 factor; lon
      // margin uses the widest latitude in the block). NOTE: near the
      // poles cos(lat) -> 0 blows the lon margin up, so `exact` goes
      // conservatively FALSE and polar probes re-query coarser —
      // correct but wasteful; a polar-cap cell scheme would fix the
      // waste if polar workloads ever dominate
      val (lon, lat, _) = Geodesy.ecefToLla(p.c(0), p.c(1), p.c(2))
      val latMargin = dK / 110574.0 * 1.05
      val maxAbsLat = math.min(89.9, math.max(math.abs(by0), math.abs(by1)))
      val lonMargin = dK /
        (111320.0 * math.cos(math.toRadians(maxAbsLat))) * 1.05
      lon - lonMargin >= bx0 && lon + lonMargin <= bx1 &&
        lat - latMargin >= by0 && lat + latMargin <= by1
    }
  }

  /** Distance join (`rtree.hpp:340-362` query_ball / ST_DWithin): all
    * (probe, build) pairs within `radius` as flat
    * (qid, nid, dist, value) rows.
    *
    * Broadcast tree when the build side is small; otherwise the same
    * 3x3-replicated cell cogroup as [[neighbors]]. The shuffle path is
    * exact when `radius` fits inside one cell, so the cell precision is
    * auto-coarsened from `cfg.precision` until that holds (geodetic radii
    * are chord metres, converted to degree bounds at `maxAbsLat`, beyond
    * which longitude cells are too narrow to guarantee the block cover).
    */
  def distanceJoin(spark: SparkSession, build: DataFrame, probe: DataFrame,
                   radius: Double, cfg: Config,
                   maxAbsLat: Double = 80.0): DataFrame = {
    import spark.implicits._
    val s = search2d(cfg).copy(cells = () => GeoHashCells(
      radiusSafePrecision(radius, cfg.precision, cfg.geodetic, maxAbsLat),
      cfg.geodetic))
    search(spark, build, probe, s) { (b, p, _) =>
      b.tree.queryBall(p.c, radius).iterator
        .map(r => (p.qid, r._3, r._1, r._2))
    }.toDF("qid", "nid", "dist", "value")
  }
  /** Coarsest-enough precision so a `radius` ball around any probe point
    * stays inside its 3x3 cell block. Precision steps by 2 bits (lon/lat
    * interleave); throws when even the 4-cell globe cannot contain the
    * radius — at that point a distance join is a near-cross-join and the
    * caller should broadcast instead.
    */
  private[operators] def radiusSafePrecision(radius: Double, startPrec: Int,
      geodetic: Boolean, maxAbsLat: Double): Int = {
    // conservative degree bound for a chord-metre radius
    val degNeeded =
      if (!geodetic) radius
      else math.max(radius / 110574.0,
        radius / (111320.0 * math.cos(math.toRadians(
          math.min(89.0, maxAbsLat))))) * 1.05
    var prec = startPrec
    while (prec >= 4) {
      val (lonErr, latErr) = GeoHash.errorWithPrecision(prec)
      if (math.min(lonErr, latErr) >= degNeeded) return prec
      prec -= 2
    }
    throw new IllegalArgumentException(
      s"distance join radius $radius exceeds the coarsest cell size; " +
        "broadcast the build side (raise broadcastThreshold) instead")
  }

  /** Flat (qid, nid, dist, value, rank) rows — the relational face of the
    * kNN join, oracle-checkable with a window-function SQL.
    */
  def knnJoinFlat(spark: SparkSession, build: DataFrame, probe: DataFrame,
                  cfg: Config): DataFrame = {
    import spark.implicits._
    neighbors(spark, build, probe, cfg).flatMap { r =>
      r.ids.indices.iterator.map { i =>
        (r.qid, r.ids(i), r.dists(i), r.values(i), i + 1)
      }
    }.toDF("qid", "nid", "dist", "value", "rank")
  }

  /** Neighborhood validity (`rtree.hpp:582-616`). */
  private[operators] def boundaryValid(q: Array[Double],
      coords: Array[Array[Double]], check: String): Boolean = check match {
    case "none" => true
    case _ if coords.isEmpty => false
    case "envelope" =>
      q.indices.forall { d =>
        var lo = Double.MaxValue
        var hi = -Double.MaxValue
        coords.foreach { c =>
          if (c(d) < lo) lo = c(d)
          if (c(d) > hi) hi = c(d)
        }
        q(d) >= lo && q(d) <= hi
      }
    case "convex_hull" =>
      require(q.length == 2,
        "convex_hull boundary check is 2-D cartesian only; use envelope")
      val hull = graft.core.GeometryAlgorithms.convexHull(
        coords.map(c => (c(0), c(1))).toIndexedSeq)
      graft.core.Polygon2D(hull.toArray).coveredBy(q(0), q(1))
    case other =>
      throw new IllegalArgumentException(s"boundaryCheck $other")
  }

  /** Inverse-distance weighting (`rtree.hpp:398-429`): exact-hit
    * shortcut at d<1e-6, w=1/d^p, NaN + 0 neighbors when empty or when
    * the boundary check rejects the neighborhood.
    */
  def idw(spark: SparkSession, build: DataFrame, probe: DataFrame,
          cfg: Config): DataFrame = {
    import spark.implicits._
    if (cfg.boundaryCheck != "none") return idwChecked(spark, build, probe,
      cfg)
    val p = cfg.idwPower
    val k = cfg.k
    neighbors(spark, build, probe, cfg).map { r =>
      var result = 0.0
      var totalW = 0.0
      var exact = Double.NaN
      var i = 0
      while (i < r.n && exact.isNaN) {
        val d = r.dists(i)
        if (d < 1e-6) exact = r.values(i)
        else {
          val w = 1.0 / math.pow(d, p)
          totalW += w
          result += r.values(i) * w
        }
        i += 1
      }
      if (!exact.isNaN) (r.qid, exact, k)
      else if (totalW != 0.0) (r.qid, result / totalW, r.n)
      else (r.qid, Double.NaN, 0)
    }.toDF("qid", "value", "neighbors")
  }

  /** IDW with the boundary-check gate: needs neighbor coordinates. */
  private def idwChecked(spark: SparkSession, build: DataFrame,
      probe: DataFrame, cfg: Config): DataFrame = {
    import spark.implicits._
    val p = cfg.idwPower
    val check = cfg.boundaryCheck
    neighborsWithCoords(spark, build, probe, cfg).map { r =>
      if (!boundaryValid(r.q, r.coords, check)) (r.qid, Double.NaN, 0)
      else {
        var result = 0.0
        var totalW = 0.0
        var exact = Double.NaN
        var i = 0
        while (i < r.values.length && exact.isNaN) {
          val d = dist(r.q, r.coords(i))
          if (d < 1e-6) exact = r.values(i)
          else {
            val w = 1.0 / math.pow(d, p)
            totalW += w
            result += r.values(i) * w
          }
          i += 1
        }
        if (!exact.isNaN) (r.qid, exact, cfg.k)
        else if (totalW != 0.0) (r.qid, result / totalW, r.values.length)
        else (r.qid, Double.NaN, 0)
      }
    }.toDF("qid", "value", "neighbors")
  }

  @inline private def dist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var d = 0
    while (d < a.length) { val x = a(d) - b(d); s += x * x; d += 1 }
    math.sqrt(s)
  }

  /** Window-function interpolation (`rtree.hpp:500-535`): weights from a
    * tapering kernel scaled by the furthest-neighbor distance (or the
    * fixed radius when given).
    */
  def windowFunction(spark: SparkSession, build: DataFrame, probe: DataFrame,
                     cfg: Config): DataFrame = {
    import spark.implicits._
    val kern = cfg.windowKernel
    val arg = cfg.windowArg
    val hasRadius = !cfg.radius.isInfinity
    val radius = cfg.radius
    neighbors(spark, build, probe, cfg).map { r =>
      val furthest =
        if (hasRadius) radius
        else if (r.n == 0) 0.0
        else r.dists(r.n - 1)
      var result = 0.0
      var totalW = 0.0
      var i = 0
      while (i < r.n) {
        val w = graft.functions.Kernels.windowWeight(kern, r.dists(i),
          furthest, arg)
        totalW += w
        result += r.values(i) * w
        i += 1
      }
      if (totalW != 0.0) (r.qid, result / totalW, r.n)
      else (r.qid, Double.NaN, 0)
    }.toDF("qid", "value", "neighbors")
  }

  /** Radial basis function interpolation over the k neighbors
    * (`math/interpolate/rbf.hpp:23-285`): solve (A+λI)w = y with the
    * chosen kernel; small dense solve per probe point.
    */
  def rbf(spark: SparkSession, build: DataFrame, probe: DataFrame,
          cfg: Config, kernel: String = "multiquadric",
          epsilon: Double = Double.NaN, smooth: Double = 0.0): DataFrame = {
    import spark.implicits._
    val dims = if (cfg.geodetic) 3 else 2
    neighborsWithCoords(spark, build, probe, cfg).map { r =>
      val v = RbfSolver.interpolate(r.q, r.coords, r.values, kernel, epsilon,
        smooth, dims)
      (r.qid, v, r.coords.length)
    }.toDF("qid", "value", "neighbors")
  }

  /** Universal/simple kriging over the k nearest neighbors
    * (`geometry/rtree.hpp:450-471`; 2-D inputs padded z=0 like the
    * reference). Output (qid, value, variance, neighbors).
    */
  def kriging(spark: SparkSession, build: DataFrame, probe: DataFrame,
              cfg: Config, sigma: Double = 1.0, lambda: Double = 1.0,
              nugget: Double = 0.0, covariance: String = "matern_32",
              drift: Option[String] = None): DataFrame = {
    import spark.implicits._
    val model = new graft.core.Kriging(sigma, lambda, nugget, covariance,
      drift)
    neighborsWithCoords(spark, build, probe, cfg).map { r =>
      val q3 = if (r.q.length == 3) r.q else Array(r.q(0), r.q(1), 0.0)
      val cs3 = r.coords.map(c =>
        if (c.length == 3) c else Array(c(0), c(1), 0.0))
      val (v, variance) = model.solve(cs3, r.values, q3)
      (r.qid, v, variance, r.values.length)
    }.toDF("qid", "value", "variance", "neighbors")
  }

  /** Optimal interpolation (BLUE) over the k nearest neighbors
    * (`pyinterp/optimal_interpolation.py:5-153`,
    * `pybind/rtree4d.hpp`): returns value + formal error + count.
    */
  def optimalInterpolation(spark: SparkSession, build: DataFrame,
      probe: DataFrame, cfg: Config, sigma2: Double,
      lengthScales: Array[Double], obsSigma2: Double,
      kernel: String = "gaussian"): DataFrame = {
    import spark.implicits._
    val model = new graft.core.OptimalInterpolation(sigma2, lengthScales,
      kernel)
    neighborsWithCoords(spark, build, probe, cfg).map { r =>
      val (v, err, n) =
        model.solve(r.coords, r.values,
          Array.fill(r.values.length)(obsSigma2), r.q)
      (r.qid, v, err, n)
    }.toDF("qid", "value", "error_variance", "neighbors")
  }

  /** kNN with neighbor coordinates: the coordinates ride the shuffle
    * path's cogroup — nothing is collected above the broadcast gate.
    */
  private def neighborsWithCoords(spark: SparkSession, build: DataFrame,
      probe: DataFrame, cfg: Config): Dataset[NbrWithCoords] = {
    import spark.implicits._
    search(spark, build, probe, search2d(cfg))(
      nearestWithCoords(cfg.k, cfg.radius))
  }
}

/** Small dense RBF solve (Gauss elimination with partial pivoting ≙ the
  * reference's PartialPivLU, `rbf.hpp:281-285`).
  */
object RbfSolver {
  def kernelValue(name: String, r: Double, eps: Double): Double = name match {
    case "linear" => r
    case "cubic" => r * r * r
    case "thin_plate" => if (r == 0.0) 0.0 else r * r * math.log(r)
    case "multiquadric" => math.sqrt((r / eps) * (r / eps) + 1.0)
    case "inverse_multiquadric" => 1.0 / math.sqrt((r / eps) * (r / eps) + 1.0)
    case "gaussian" => math.exp(-(r / eps) * (r / eps))
    case other => throw new IllegalArgumentException(s"rbf kernel $other")
  }

  def interpolate(q: Array[Double], coords: Array[Array[Double]],
                  values: Array[Double], kernel: String, epsilon: Double,
                  smooth: Double, dims: Int): Double = {
    val n = coords.length
    if (n == 0) return Double.NaN
    // epsilon default: average distance between nodes (reference behavior)
    var eps = epsilon
    if (eps.isNaN) {
      var s = 0.0
      var c = 0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          s += dist(coords(i), coords(j), dims)
          c += 1
          j += 1
        }
        i += 1
      }
      eps = if (c > 0) s / c else 1.0
      if (eps == 0.0) eps = 1.0
    }
    val a = Array.ofDim[Double](n, n + 1)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        a(i)(j) = kernelValue(kernel, dist(coords(i), coords(j), dims), eps)
        j += 1
      }
      a(i)(i) -= smooth
      a(i)(n) = values(i)
      i += 1
    }
    // gaussian elimination, partial pivoting
    i = 0
    while (i < n) {
      var piv = i
      var j = i + 1
      while (j < n) {
        if (math.abs(a(j)(i)) > math.abs(a(piv)(i))) piv = j
        j += 1
      }
      val tmp = a(i); a(i) = a(piv); a(piv) = tmp
      if (a(i)(i) == 0.0) return Double.NaN
      j = i + 1
      while (j < n) {
        val f = a(j)(i) / a(i)(i)
        var c = i
        while (c <= n) { a(j)(c) -= f * a(i)(c); c += 1 }
        j += 1
      }
      i += 1
    }
    val w = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = a(i)(n)
      var j = i + 1
      while (j < n) { s -= a(i)(j) * w(j); j += 1 }
      w(i) = s / a(i)(i)
      i -= 1
    }
    var out = 0.0
    i = 0
    while (i < n) {
      out += w(i) * kernelValue(kernel, dist(q, coords(i), dims), eps)
      i += 1
    }
    out
  }

  private def dist(a: Array[Double], b: Array[Double], dims: Int): Double = {
    var s = 0.0
    var d = 0
    while (d < dims) { val x = a(d) - b(d); s += x * x; d += 1 }
    math.sqrt(s)
  }
}
