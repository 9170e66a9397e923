package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.core.{Axis, GeoHash, Polygon2D}
import graft.functions.gf
import graft.operators.{Binning2D, GridInterpolator, KnnJoin, PipJoin}
import graft.pipeline.{ImageRow, ImageTableGen, TilePipeline}

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One benchmark workload. The harness calls `setup` several times (each
  * call builds the seeded inputs afresh; the last one is used), then
  * `prepareChecks` once, then `round` in a closed loop. A round issues
  * the workload's ops in a fixed order through the [[Runner]].
  */
trait Workload {
  def spark: SparkSession
  def setup(rep: Int): Unit
  def prepareChecks(): Unit
  def round(r: Runner): Unit
  /** Unmeasured rounds before the timed loop, enough for the op times
    * to stop falling while the JIT compiles the kernels and Spark's
    * planning code (5-8 s of ops); a count rather than a time gives every
    * run the same JIT warm-up.
    */
  def warmRounds: Int
  /** Input sizes, recorded in every result record. */
  def inputs: Seq[(String, Any)]
  /** End-to-end metrics only this workload has, from its ops. */
  def named(ops: Seq[OpRec]): Seq[Metric]
  /** Per-layer measurements only this workload can take; traced runs. */
  def layerExtras(r: Runner, rec: StageRecorder, ops: Seq[OpAttribution])
      : Seq[Metric]

  protected def p50(ops: Seq[OpRec], kind: String): Double =
    Stats.median(ops.filter(o => o.kind == kind && o.ok).map(_.seconds))

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

object Workloads {
  val Names = Seq("tiles", "spatial_queries", "tiles_store")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String,
            nproc: Int): Workload = name match {
    case "tiles" => new TilesWorkload(spark, seed, dir, nproc)
    case "spatial_queries" => new SpatialWorkload(spark, seed, dir, nproc)
    case "tiles_store" => new StoreWorkload(spark, seed, dir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** Star-shaped simple polygon around (cx, cy) with radii in
    * [0.5 r, r], vertices at increasing angles.
    */
  def starPolygon(rng: SplittableRandom, cx: Double, cy: Double, r: Double,
                  nv: Int): Polygon2D =
    Polygon2D(Array.tabulate(nv) { i =>
      val a = 2 * math.Pi * (i + rng.nextDouble() * 0.8) / nv
      val rr = r * (0.5 + 0.5 * rng.nextDouble())
      (cx + rr * math.cos(a), cy + rr * math.sin(a))
    })

  /** Sums of one tile table: (tiles, sum n_images, sum counts, finite
    * pixels, sum of finite means).
    */
  type TileSums = (Long, Long, Long, Long, Double)

  def tileSums(tiles: Dataset[TilePipeline.TileOut]): TileSums = {
    import tiles.sparkSession.implicits._
    tiles.map { t =>
      var c = 0L; var f = 0L; var s = 0.0; var i = 0
      while (i < t.mean.length) {
        c += t.count(i)
        if (!t.mean(i).isNaN) { f += 1; s += t.mean(i) }
        i += 1
      }
      (1L, t.n_images.toLong, c, f, s)
    }.reduce((a, b) =>
      (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4, a._5 + b._5))
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Shuffle records and bytes written by one traced op's stages. */
  def shuffleWrite(op: OpAttribution): (Long, Long) =
    (op.tasks.map(_.shuffleWriteRecords).sum,
      op.tasks.map(_.shuffleWriteBytes).sum)
}

/** `tiles`: the BASELINE flagship on a table read from parquet. Setup
  * writes seeded images (20% hot box, 10% JPEG) over a seed-offset id
  * range; each op is one `TilePipeline.tiles` job over the scan.
  */
final class TilesWorkload(val spark: SparkSession, seed: Long, dir: String,
                          nproc: Int) extends Workload {
  import spark.implicits._
  private val NImages = 1500L
  private val Precision = 20
  private val TileSize = 32
  private val idOffset = Math.floorMod(seed, 1000000L) * 10000000L
  private var imagesDir = ""
  private var images: Dataset[ImageRow] = _
  private var partials: (Long, Long) = _
  private var first: Workloads.TileSums = _
  private var tilesPerOp = 0L

  def inputs: Seq[(String, Any)] = Seq("images" -> NImages,
    "image_px" -> 32, "precision" -> Precision, "tile_px" -> TileSize,
    "id_offset" -> idOffset)

  val warmRounds = 14

  def setup(rep: Int): Unit = {
    imagesDir = s"$dir/images-$rep"
    spark.range(idOffset, idOffset + NImages, 1, nproc * 2)
      .map(i => ImageTableGen.makeRow(i, 32, 0.1))
      .write.parquet(imagesDir)
    images = scan(spark)
  }

  def scan(s: SparkSession): Dataset[ImageRow] = {
    import s.implicits._
    s.read.parquet(imagesDir).as[ImageRow]
  }

  /** Reference from the one-shot per-image kernel, without the combine or
    * merge: the partial tile count and the sum of all pixel counts, both
    * of which the merge must conserve.
    */
  def prepareChecks(): Unit = {
    val (p, ts) = (Precision, TileSize)
    partials = images.flatMap { r =>
      TilePipeline.partialTiles(r, p, ts, "bicubic").map(t => (1L,
        t.counts.foldLeft(0L)(_ + _)))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  def round(r: Runner): Unit =
    r.op("tiles", "pipeline")(Workloads.tileSums(
      TilePipeline.tiles(spark, images, Precision, TileSize, "bicubic"))
    ) { s =>
      Check(s._2 == partials._1,
        s"sum(n_images) ${s._2} != partial tiles ${partials._1}")
      Check(s._3 == partials._2,
        s"sum(counts) ${s._3} != partial pixel counts ${partials._2}")
      val mean = s._5 / s._4
      Check(mean > -0.1 && mean < 1.1, s"mean pixel $mean outside [0, 1]")
      if (first == null) { first = s; tilesPerOp = s._1 }
      Check(s._1 == first._1 && s._4 == first._4,
        s"tiles/finite pixels ${s._1}/${s._4} != first op's " +
          s"${first._1}/${first._4}")
      Check.close(s._5, first._5, 1e-9, "sum of finite means")
    }

  def named(ops: Seq[OpRec]): Seq[Metric] = Seq(Metric("tiles_per_s",
    Stats.median(ops.filter(_.ok).map(tilesPerOp / _.seconds)), "tiles/s"))

  def layerExtras(r: Runner, rec: StageRecorder, ops: Seq[OpAttribution])
      : Seq[Metric] = {
    val (p, ts) = (Precision, TileSize)
    val reps = 3
    val scanS = Stats.median((1 to reps).map(_ => timed(
      images.mapPartitions(it => Iterator(it.size.toLong))
        .reduce(_ + _))._2))
    val flatS = Stats.median((1 to reps).map(_ => timed(
      images.flatMap(r => TilePipeline.partialTiles(r, p, ts, "bicubic"))
        .count())._2))
    val tilesS = Stats.median((1 to reps).map(_ => timed(
      TilePipeline.tiles(spark, images, p, ts, "bicubic").count())._2))
    val records = Stats.median(ops.map(o =>
      Workloads.shuffleWrite(o)._1.toDouble))
    Seq(
      Metric("pipeline.scan_s", scanS, "s"),
      Metric("pipeline.resample_s", flatS - scanS, "s"),
      Metric("pipeline.merge_s", tilesS - flatS, "s"),
      Metric("pipeline.shuffle_records_per_tile", records / tilesPerOp,
        "ratio"))
  }

  /** Seconds of one tiles op on `s` (a session on fewer cores): the second
    * of two ops, so the session's first-job cost is excluded.
    */
  def opSeconds(s: SparkSession): Double = {
    def once() = timed(Workloads.tileSums(
      TilePipeline.tiles(s, scan(s), Precision, TileSize, "bicubic")))._2
    once()
    once()
  }

  def tiles: Long = tilesPerOp
}

/** `spatial_queries`: one round issues kNN (auto path, build side
  * selectively filtered), kNN (forced shuffle), point-in-polygon (above
  * the broadcast threshold, so the cell join), Binning2D and windowed
  * bicubic grid-as-table interpolation on seeded geodetic points.
  */
final class SpatialWorkload(val spark: SparkSession, seed: Long, dir: String,
                            nproc: Int) extends Workload {
  import spark.implicits._
  private val NPoints = 50000L
  private val NProbes = 8000L
  private val NPolygons = 500
  private val PipSample = 2000L
  private val K = 8
  // cells of ~2.8 x 1.4 degrees: a 3x3 block holds ~250 build points
  // outside the hot box, so the shuffle-path answers are exact
  private val KnnPrecision = 14
  private val PipPrecision = 20
  private val BuildFilter = col("value") < 0.25
  // a 0.25-degree grid around the hot box; points and probes lie in its
  // interior, since windowed bicubic needs 3 nodes on each side
  private val (gLon0, gLat0, gStep, gNx, gNy) = (99.0, -11.0, 0.25, 169, 149)
  private val (lon0, lon1, lat0, lat1) = (100.0, 140.0, -10.0, 25.0)
  private val (hotLon, hotLat) = (ImageTableGen.HotLon, ImageTableGen.HotLat)
  private var pts: DataFrame = _
  private var probes: DataFrame = _
  private var grid: DataFrame = _
  private var polygons: Seq[(Long, Polygon2D)] = Nil
  private var buildRows = 0L
  private var pipSampleRef = 0L
  private var pipFirst = -1L
  // the last auto-path answer: neighbor-id hash per qid (qid = index)
  private var lastAuto: Array[Long] = _
  private var exactFrac = Double.NaN

  val warmRounds = 2

  def inputs: Seq[(String, Any)] = Seq("points" -> NPoints,
    "probes" -> NProbes, "polygons" -> NPolygons, "grid" -> s"${gNx}x$gNy",
    "knn_precision" -> KnnPrecision,
    "k" -> K, "build_filter" -> "value < 0.25", "hot_frac" -> 0.2)

  /** Seeded points over the grid interior, 20% in the 2x2 degree hot box.
    * `rand` with a fixed partition count is deterministic per seed.
    */
  private def points(n: Long, s: Long, idCol: String): DataFrame =
    spark.range(0, n, 1, nproc * 2)
      .withColumn("hot", rand(s) < ImageTableGen.HotFrac)
      .select(col("id").as(idCol),
        when(col("hot"), lit(hotLon) + rand(s + 1) * 2)
          .otherwise(lit(lon0) + rand(s + 2) * (lon1 - lon0)).as("x"),
        when(col("hot"), lit(hotLat) + rand(s + 3) * 2)
          .otherwise(lit(lat0) + rand(s + 4) * (lat1 - lat0)).as("y"),
        rand(s + 5).as("value"))

  /** `ImageTableGen.field` as a column expression. */
  private def field(lon: Column, lat: Column): Column =
    sin(radians(lon) * 12) * cos(radians(lat) * 8) +
      sin(radians(lon) * 20) * sin(radians(lat) * 16) * 0.5

  def setup(rep: Int): Unit = {
    val s = seed * 1000
    val (pointsDir, probesDir, gridDir) =
      (s"$dir/points-$rep", s"$dir/probes-$rep", s"$dir/grid-$rep")
    points(NPoints, s, "id").write.parquet(pointsDir)
    points(NProbes, s + 100, "qid").drop("value").write.parquet(probesDir)
    spark.range(0L, gNx.toLong * gNy, 1L, nproc).select(
        (lit(gLon0) + floor(col("id") / gNy) * gStep).as("lon"),
        (lit(gLat0) + (col("id") % gNy) * gStep).as("lat"))
      .withColumn("sst", field(col("lon"), col("lat")))
      .write.parquet(gridDir)
    pts = spark.read.parquet(pointsDir)
    probes = spark.read.parquet(probesDir)
    grid = spark.read.parquet(gridDir)
    val rng = new SplittableRandom(seed)
    polygons = (0 until NPolygons).map { i =>
      val hot = rng.nextDouble() < ImageTableGen.HotFrac
      val cx = if (hot) hotLon + rng.nextDouble() * 2
        else lon0 + rng.nextDouble() * (lon1 - lon0)
      val cy = if (hot) hotLat + rng.nextDouble() * 2
        else lat0 + rng.nextDouble() * (lat1 - lat0)
      (i.toLong, Workloads.starPolygon(rng, cx, cy,
        0.2 + 0.6 * rng.nextDouble(), 8 + rng.nextInt(9)))
    }
  }

  private def build = pts.filter(BuildFilter)

  /** Reference for the PIP check: the broadcast join on a fixed sample. */
  def prepareChecks(): Unit = {
    buildRows = build.count()
    pipSampleRef = PipJoin.broadcastJoin(spark,
      probes.filter(col("qid") < PipSample), "x", "y", polygons).count()
  }

  /** (qid -> hash of neighbor ids, exact flag), all probes. */
  private def knn(cfg: KnnJoin.Config): Array[(Long, Long, Boolean, Int)] =
    KnnJoin.neighbors(spark, build, probes, cfg).map { n =>
      var h = 1125899906842597L
      n.ids.foreach(id => h = 31 * h + id)
      (n.qid, h, n.exact, n.n)
    }.collect()

  private def checkAnswered(res: Array[(Long, Long, Boolean, Int)]): Unit = {
    Check(res.length == NProbes, s"${res.length} of $NProbes probes answered")
    Check(res.forall(r => r._4 == K || !r._3),
      s"an exact probe has fewer than $K neighbors")
  }

  def round(r: Runner): Unit = {
    r.op("knn", "operators")(knn(KnnJoin.Config(k = K, precision = KnnPrecision))) { res =>
      checkAnswered(res)
      Check(res.forall(_._3), "auto path left an inexact probe")
      lastAuto = new Array[Long](NProbes.toInt)
      res.foreach(x => lastAuto(x._1.toInt) = x._2)
    }
    r.op("knn_shuffle", "operators")(
      knn(KnnJoin.Config(k = K, precision = KnnPrecision,
        broadcastThreshold = 0L))) { res =>
      checkAnswered(res)
      Check(lastAuto != null, "no auto-path answer to compare with")
      val exact = res.filter(_._3)
      exactFrac = exact.length.toDouble / res.length
      Check(exactFrac > 0.5, s"only $exactFrac of probes exact")
      val bad = exact.count(x => lastAuto(x._1.toInt) != x._2)
      Check(bad == 0, s"$bad exact probes disagree with the auto path")
    }
    r.op("pip", "operators") {
      val row = PipJoin.join(spark, probes, "x", "y", polygons, PipPrecision)
        .agg(count(lit(1)),
          sum(when(col("qid") < PipSample, 1L).otherwise(0L))).collect()(0)
      (row.getLong(0), row.getLong(1))
    } { case (total, sample) =>
      Check(sample == pipSampleRef,
        s"$sample sample matches != broadcast join's $pipSampleRef")
      if (pipFirst < 0) pipFirst = total
      Check(total == pipFirst && total > 0,
        s"$total matches != first op's $pipFirst")
    }
    r.op("binning", "operators") {
      new Binning2D(Axis.regular(gLon0, gLon0 + gStep * (gNx - 1), gNx),
          Axis.regular(gLat0, gLat0 + gStep * (gNy - 1), gNy))
        .simple(pts, col("x"), col("y"), col("value"))
        .agg(sum(col("count"))).collect()(0).getLong(0)
    } { total => Check(total == NPoints, s"binned $total of $NPoints rows") }
    r.op("interp", "operators") {
      GridInterpolator.bivariateTableWindowed(spark, probes, "x", "y",
          grid, "bicubic")
        .agg(count(lit(1)), sum(isnan(col("value")).cast("long")),
          max(abs(col("value") - field(col("x"), col("y")))))
        .collect()(0)
    } { row =>
      Check(row.getLong(0) == NProbes, s"${row.getLong(0)} of $NProbes " +
        "probes interpolated")
      Check(row.getLong(1) == 0, s"${row.getLong(1)} interior probes NaN")
      Check(row.getDouble(2) < 1e-3,
        s"max error ${row.getDouble(2)} against the analytic field")
    }
  }

  def named(ops: Seq[OpRec]): Seq[Metric] = Seq(
    Metric("knn_s_p50", p50(ops, "knn"), "s"),
    Metric("knn_shuffle_s_p50", p50(ops, "knn_shuffle"), "s"),
    Metric("pip_s_p50", p50(ops, "pip"), "s"),
    Metric("binning_s_p50", p50(ops, "binning"), "s"),
    Metric("interp_s_p50", p50(ops, "interp"), "s"))

  def layerExtras(r: Runner, rec: StageRecorder, ops: Seq[OpAttribution])
      : Seq[Metric] = {
    def of(kind: String) = ops.filter(_.rec.kind == kind)
    def med(kind: String)(f: OpAttribution => Double) =
      Stats.median(of(kind).map(f))
    val autoBytes = med("knn")(o => Workloads.shuffleWrite(o)._2.toDouble)
    val shufBytes = med("knn_shuffle")(o =>
      Workloads.shuffleWrite(o)._2.toDouble)
    val shufRecords = med("knn_shuffle")(o =>
      Workloads.shuffleWrite(o)._1.toDouble)
    // the cell join's candidate pairs: points joined to the polygons'
    // cell covers on the cell id, before the exact containment refine
    val covers = polygons.flatMap { case (id, poly) =>
      GeoHash.coverPolygon(poly, PipPrecision).map(c => (id, c))
    }.toDF("poly_id", "cell")
    val candidates = probes
      .withColumn("cell", gf.geohash_encode(col("x"), col("y"), PipPrecision))
      .join(covers, "cell").count()
    Seq(
      Metric("knn.path", if (autoBytes >= 0.5 * shufBytes) 1.0 else 0.0,
        "shuffle_flag"),
      Metric("knn.exact_frac", exactFrac, "ratio"),
      Metric("knn.build_rows_shuffled_per_row",
        (shufRecords - NProbes) / buildRows, "ratio"),
      Metric("pip.candidates_per_match", candidates.toDouble / pipFirst,
        "ratio"),
      Metric("interp.shuffle_bytes",
        med("interp")(o => Workloads.shuffleWrite(o)._2.toDouble), "bytes"))
  }
}

/** `tiles_store`: each round writes the tile table with
  * `TilePipeline.run` into a fresh directory (write, range partition,
  * manifest), then issues seeded cell-range reads against the table
  * written at setup. `run` synthesizes image ids 0..n-1 itself, so the
  * seed varies only the reads.
  */
final class StoreWorkload(val spark: SparkSession, seed: Long, dir: String)
    extends Workload {
  import spark.implicits._
  private val NImages = 1000L
  private val ReadsPerRound = 6
  private val ReadSpanFrac = 0.02
  private val rng = new SplittableRandom(seed)
  private var table: DataFrame = _
  private var setupDir = ""
  private var writes = 0
  private var cells: Array[Long] = _
  // prefix sums over cells in ascending order: tiles, n_images, mean sum
  private var preImages: Array[Long] = _
  private var preMean: Array[Double] = _
  private val lastDf = scala.collection.mutable.Map.empty[Int, DataFrame]

  val warmRounds = 4

  def inputs: Seq[(String, Any)] = Seq("images" -> NImages,
    "image_px" -> 32, "precision" -> 20, "tile_px" -> 32,
    "reads_per_round" -> ReadsPerRound, "read_span_frac" -> ReadSpanFrac,
    "write_input" -> "unseeded (run synthesizes ids 0..n-1)")

  private def write(out: String): Unit =
    TilePipeline.run(spark, NImages, 32, 20, 32, "bicubic", out)

  private def snapDir(out: String): String =
    s"$out/snapshot-${TilePipeline.snapshotId(NImages, 32, 20, 32, "bicubic")}"

  def setup(rep: Int): Unit = {
    setupDir = s"$dir/store-setup-$rep"
    write(setupDir)
    table = spark.read.parquet(s"${snapDir(setupDir)}/tiles")
  }

  private val meanSum = expr(
    "aggregate(mean, 0D, (acc, v) -> acc + if(isnan(v), 0D, v))")

  /** Full scan of the setup table: per-cell sums for checking reads. */
  def prepareChecks(): Unit = {
    val rows = table.select(col("cell"), col("n_images").cast("long"), meanSum)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    cells = rows.map(_._1)
    preImages = rows.scanLeft(0L)(_ + _._2)
    preMean = rows.scanLeft(0.0)(_ + _._3)
  }

  private def manifestTiles(out: String): Long = {
    val src = scala.io.Source.fromFile(s"${snapDir(out)}/manifest.json")
    try """"n_tiles":(\d+)""".r.findFirstMatchIn(src.mkString)
      .map(_.group(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  def round(r: Runner): Unit = {
    writes += 1
    val out = s"$dir/store-w$writes"
    r.op("write", "pipeline")(write(out)) { _ =>
      val n = manifestTiles(out)
      Check(n == cells.length, s"manifest n_tiles $n != ${cells.length}")
    }
    Workloads.deleteRecursively(new java.io.File(out))
    val span = math.max(1, (cells.length * ReadSpanFrac).toInt)
    (1 to ReadsPerRound).foreach { _ =>
      val i = rng.nextInt(cells.length - span + 1)
      val (lo, hi) = (cells(i), cells(i + span - 1))
      r.op("read", "pipeline") {
        val df = table.filter(col("cell").between(lo, hi))
          .agg(count(lit(1)), sum(col("n_images").cast("long")),
            sum(meanSum))
        lastDf(r.current) = df
        df.collect()(0)
      } { row =>
        Check(row.getLong(0) == span, s"read ${row.getLong(0)} tiles of $span")
        Check(row.getLong(1) == preImages(i + span) - preImages(i),
          s"read n_images ${row.getLong(1)} != full scan's")
        Check.close(row.getDouble(2), preMean(i + span) - preMean(i), 1e-9,
          "read mean sum")
      }
    }
  }

  def named(ops: Seq[OpRec]): Seq[Metric] = {
    val reads = ops.filter(o => o.kind == "read" && o.ok).map(_.seconds)
    val (tail, pct) = Stats.tail(reads)
    Seq(
      Metric("tiles_per_s", Stats.median(ops.filter(o =>
        o.kind == "write" && o.ok).map(cells.length / _.seconds)), "tiles/s"),
      Metric("read_s_p50", Stats.median(reads), "s"),
      Metric("read_s_tail", tail, "s"),
      Metric("read_s_tail_pct", pct, "%"))
  }

  def layerExtras(r: Runner, rec: StageRecorder, ops: Seq[OpAttribution])
      : Seq[Metric] = {
    val writeS = Stats.median(ops.filter(_.rec.kind == "write")
      .map(_.rec.seconds))
    val tilesS = Stats.median((1 to 2).map(_ => timed(
      TilePipeline.tiles(spark, ImageTableGen.generate(spark, NImages, 32),
        20, 32, "bicubic").count())._2))
    val resumeS = Stats.median((1 to 3).map(_ => timed(write(setupDir))._2))
    val reads = ops.filter(_.rec.kind == "read")
    def scanned(o: OpAttribution, m: String) = PlanMetrics.sum(
      lastDf(o.rec.index), m)(_.isInstanceOf[FileSourceScanExec]).toDouble
    val span = math.max(1, (cells.length * ReadSpanFrac).toInt)
    Seq(
      Metric("store.write_overhead_s", writeS - tilesS, "s"),
      Metric("store.jobs_per_write", Stats.median(
        ops.filter(_.rec.kind == "write").map(_.jobs.toDouble)), "count"),
      Metric("store.files_read_per_read",
        Stats.median(reads.map(scanned(_, "numFiles"))), "count"),
      Metric("store.rows_scanned_per_row_returned",
        Stats.median(reads.map(scanned(_, "numOutputRows") / span)), "ratio"),
      Metric("store.resume_s", resumeS, "s"))
  }
}
