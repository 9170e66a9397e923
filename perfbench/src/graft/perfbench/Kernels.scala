package graft.perfbench

import java.util.SplittableRandom

import graft.core.{DenseBicubic, GeoHash, KdTree, Polygon2D}
import graft.pipeline.{ImageCodec, ImageTableGen, TilePipeline}

/** Single-thread `graft.core` kernel timings outside Spark, on seeded
  * inputs. Each kernel runs `Reps` timed passes after one warm-up pass and
  * reports the median time per call, the calls made in one pass (`_ops`)
  * and the bytes one pass moves (`_bytes`) under the per-call model in
  * METRICS.md. Every timed pass is a span of the `core` layer (or
  * `pipeline`, for `partialTiles`) in the trace.
  */
object Kernels {
  private val Reps = 5
  @volatile private var sink = 0.0

  def run(seed: Long, tracer: Tracer): Seq[(String, Double, String)] = {
    def perCall(name: String, calls: Int, layer: String = "core")(
        pass: => Double): Double = {
      sink += pass
      Stats.median((1 to Reps).map { _ =>
        tracer.span(name, layer) {
          val t0 = System.nanoTime()
          sink += pass // keeps the work observable
          (System.nanoTime() - t0).toDouble / calls
        }
      })
    }
    val rng = new SplittableRandom(seed)
    val out = Seq.newBuilder[(String, Double, String)]
    def report(name: String, nsPerCall: Double, unit: String, calls: Int,
               bytesPerCall: Double): Unit = {
      out += ((s"core.${name}", nsPerCall, unit))
      out += ((s"core.${name.takeWhile(_ != '_')}_ops", calls.toDouble,
        "count"))
      out += ((s"core.${name.takeWhile(_ != '_')}_bytes",
        calls * bytesPerCall, "bytes"))
    }

    // images of the tile workloads: 32x32, 10% JPEG
    val rows = Array.fill(200)(ImageTableGen.makeRow(
      rng.nextLong(1L << 40), 32, 0.1))

    // DenseBicubic.apply on a 32x32 raster
    val (px, w, h) = ImageCodec.decode(rows(0).bytes)
    val xs = Array.tabulate(w)(_ * 0.016)
    val ys = Array.tabulate(h)(_ * 0.016)
    val grid = new DenseBicubic(xs, ys,
      Array.tabulate(w * h)(k => px((k % h) * w + k / h).toDouble))
    val nb = 200000
    val qx = Array.fill(nb)(rng.nextDouble() * xs.last)
    val qy = Array.fill(nb)(rng.nextDouble() * ys.last)
    val bicubicNs = perCall("DenseBicubic.apply", nb) {
      var s = 0.0; var i = 0
      while (i < nb) { s += grid(qx(i), qy(i)); i += 1 }
      s
    }
    // 4 nodes x (z, zx, zy, zxy) doubles + 4 axis values
    report("bicubic_ns", bicubicNs, "ns", nb, 16 * 8 + 4 * 8)

    // ImageCodec.decode per image
    val decodeUs = perCall("ImageCodec.decode", rows.length) {
      var s = 0.0
      rows.foreach(r => s += ImageCodec.decode(r.bytes)._1(0))
      s
    } / 1000.0
    val encoded = rows.map(_.bytes.length.toDouble).sum / rows.length
    report("decode_us", decodeUs, "us", rows.length, encoded + 4.0 * 32 * 32)

    // TilePipeline.partialTiles per image (decode + cover + resample)
    var partials = 0
    val partialUs = perCall("TilePipeline.partialTiles", rows.length,
        "pipeline") {
      partials = 0
      rows.foreach(r => partials += TilePipeline.partialTiles(r, 20, 32,
        "bicubic").size)
      partials.toDouble
    } / 1000.0
    out += (("pipeline.partial_tiles_us", partialUs, "us"))
    out += (("pipeline.partial_tiles_ops", rows.length.toDouble, "count"))
    // encoded image in, dense float sums + int counts per partial tile out
    out += (("pipeline.partial_tiles_bytes",
      rows.map(_.bytes.length).sum + partials * 8.0 * 32 * 32, "bytes"))

    // KdTree.query, k = 8, over 100k unit-sphere points (ECEF-like)
    val nPts = 100000
    def unit(): Array[Double] = {
      val z = rng.nextDouble() * 2 - 1
      val t = rng.nextDouble() * 2 * math.Pi
      val r = math.sqrt(1 - z * z)
      Array(r * math.cos(t), r * math.sin(t), z)
    }
    val tree = KdTree.build(Iterator.tabulate(nPts)(i =>
      (unit(), i.toDouble, i.toLong)), 3)
    val nq = 20000
    val qs = Array.fill(nq)(unit())
    val kdNs = perCall("KdTree.query", nq) {
      var s = 0.0; var i = 0
      while (i < nq) { s += tree.query(qs(i), 8)(7)._1; i += 1 }
      s
    }
    // query point in, 8 x (distance, value, id) out
    report("kdtree_query_ns", kdNs, "ns", nq, 24 + 8 * 24)

    // GeoHash.encode at the tile precision
    val ng = 500000
    val lon = Array.fill(ng)(rng.nextDouble() * 360 - 180)
    val lat = Array.fill(ng)(rng.nextDouble() * 180 - 90)
    val ghNs = perCall("GeoHash.encode", ng) {
      var s = 0L; var i = 0
      while (i < ng) { s += GeoHash.encode(lon(i), lat(i), 20); i += 1 }
      s.toDouble
    }
    report("geohash_encode_ns", ghNs, "ns", ng, 16 + 8)

    // Polygon2D.contains on a 16-vertex star polygon, points in its bbox
    val poly = Workloads.starPolygon(rng, 0.0, 0.0, 1.0, 16)
    val np = 500000
    val (bx0, by0, bx1, by1) = poly.bbox
    val px2 = Array.fill(np)(bx0 + rng.nextDouble() * (bx1 - bx0))
    val py2 = Array.fill(np)(by0 + rng.nextDouble() * (by1 - by0))
    val pipNs = perCall("Polygon2D.contains", np) {
      var s = 0; var i = 0
      while (i < np) { if (poly.contains(px2(i), py2(i))) s += 1; i += 1 }
      s.toDouble
    }
    report("pip_contains_ns", pipNs, "ns", np, 16 + 16 * 16)
    out.result()
  }
}
