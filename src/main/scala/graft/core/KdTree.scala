package graft.core

/** In-memory k-d tree for per-partition kNN probes.
  *
  * Plays the role of the reference's boost R*-tree
  * (`/root/reference/cxx/include/pyinterp/geometry/rtree.hpp:57-83`):
  * bulk-packed build (median splits ≙ STR packing), exact k-nearest
  * traversal with a bounded max-heap, optional radius post-filter
  * (`rtree.hpp:306-336`). Dimensionality 2, 3 or 4 (ECEF geodetic points
  * are 3-D, RTree4D observations 4-D). Each partition of the Spark kNN
  * join builds one of these over its cell range; the structure is
  * append-only after construction and safe to share read-only across
  * tasks of a partition.
  *
  * @param coords flattened point coordinates, length n*dims
  * @param payload caller value per point (e.g. the observed scalar)
  * @param ids    caller id per point (stable tie-break ordering)
  */
final class KdTree(private val dims: Int, private val coords: Array[Double],
                   private val payload: Array[Double],
                   private val ids: Array[Long]) extends Serializable {
  private val n = ids.length
  private val index: Array[Int] = Array.tabulate(n)(identity)
  // node bounding is implicit via recursive partitioning
  build(0, n, 0)

  private def build(lo: Int, hi: Int, depth: Int): Unit = {
    if (hi - lo <= 1) return
    val axis = depth % dims
    val mid = (lo + hi) >>> 1
    selectMedian(lo, hi, mid, axis)
    build(lo, mid, depth + 1)
    build(mid + 1, hi, depth + 1)
  }

  /** Quickselect on index[lo,hi) so index(mid) holds the median by axis. */
  private def selectMedian(lo0: Int, hi0: Int, mid: Int, axis: Int): Unit = {
    var lo = lo0
    var hi = hi0 - 1
    while (lo < hi) {
      val pivot = coords(index((lo + hi) >>> 1) * dims + axis)
      var i = lo
      var j = hi
      while (i <= j) {
        while (coords(index(i) * dims + axis) < pivot) i += 1
        while (coords(index(j) * dims + axis) > pivot) j -= 1
        if (i <= j) {
          val t = index(i); index(i) = index(j); index(j) = t
          i += 1; j -= 1
        }
      }
      if (mid <= j) hi = j
      else if (mid >= i) lo = i
      else return
    }
  }

  /** k nearest neighbors of `q` within `radius` (euclidean), results as
    * (distance, value, id) sorted ascending by distance then id. Ties at
    * the k-boundary resolve to the smallest ids — deterministic under any
    * build/partitioning order (matches a `row_number() OVER (ORDER BY
    * dist, id)` relational ranking).
    */
  def query(q: Array[Double], k: Int,
            radius: Double = Double.PositiveInfinity)
      : Array[(Double, Double, Long)] =
    nearest(q, k, radius).map { case (d, i) => (d, payload(i), ids(i)) }

  /** Value, id and coordinates of the point built at index `i` (the
    * position in the `build` iterator; what [[nearest]] returns).
    */
  def value(i: Int): Double = payload(i)
  def id(i: Int): Long = ids(i)
  def point(i: Int): Array[Double] =
    java.util.Arrays.copyOfRange(coords, i * dims, (i + 1) * dims)

  /** Exact-kNN core: (distance, build index) sorted ascending by
    * (distance, id), so callers can read per-point data the tree does
    * not hold from their own build-ordered arrays.
    */
  def nearest(q: Array[Double], k: Int, radius: Double)
      : Array[(Double, Int)] = {
    // bounded max-heap over (squared distance, id) lexicographic
    val heapD = new Array[Double](k)
    val heapI = new Array[Int](k)
    var heapSize = 0

    @inline def gt(d2a: Double, ia: Int, d2b: Double, ib: Int): Boolean =
      d2a > d2b || (d2a == d2b && ids(ia) > ids(ib))

    def heapPush(d2: Double, i: Int): Unit = {
      if (heapSize < k) {
        heapD(heapSize) = d2; heapI(heapSize) = i
        var c = heapSize
        heapSize += 1
        while (c > 0 && gt(heapD(c), heapI(c), heapD((c - 1) / 2),
            heapI((c - 1) / 2))) {
          val p = (c - 1) / 2
          val td = heapD(p); heapD(p) = heapD(c); heapD(c) = td
          val ti = heapI(p); heapI(p) = heapI(c); heapI(c) = ti
          c = p
        }
      } else if (gt(heapD(0), heapI(0), d2, i)) {
        heapD(0) = d2; heapI(0) = i
        var p = 0
        var cont = true
        while (cont) {
          val l = 2 * p + 1
          val r = l + 1
          var m = p
          if (l < k && gt(heapD(l), heapI(l), heapD(m), heapI(m))) m = l
          if (r < k && gt(heapD(r), heapI(r), heapD(m), heapI(m))) m = r
          if (m == p) cont = false
          else {
            val td = heapD(p); heapD(p) = heapD(m); heapD(m) = td
            val ti = heapI(p); heapI(p) = heapI(m); heapI(m) = ti
            p = m
          }
        }
      }
    }

    def worst: Double =
      if (heapSize < k) Double.PositiveInfinity else heapD(0)

    def visit(lo: Int, hi: Int, depth: Int): Unit = {
      if (hi <= lo) return
      if (hi - lo == 1) {
        val d2 = dist2(index(lo), q)
        heapPush(d2, index(lo))
        return
      }
      val axis = depth % dims
      val mid = (lo + hi) >>> 1
      val node = index(mid)
      val d2 = dist2(node, q)
      heapPush(d2, node)
      val diff = q(axis) - coords(node * dims + axis)
      val (near0, near1, far0, far1) =
        if (diff < 0) (lo, mid, mid + 1, hi) else (mid + 1, hi, lo, mid)
      visit(near0, near1, depth + 1)
      // <= so equal-distance points (id tie-break) are still reachable
      if (diff * diff <= worst) visit(far0, far1, depth + 1)
    }

    visit(0, n, 0)
    val r2 = if (radius.isInfinity) Double.PositiveInfinity else radius * radius
    val out = (0 until heapSize).iterator
      .map(i => (heapD(i), heapI(i)))
      .filter(_._1 <= r2)
      .map { case (d2, i) => (math.sqrt(d2), i) }
      .toArray
    scala.util.Sorting.stableSort(out,
      (a: (Double, Int), b: (Double, Int)) =>
        a._1 < b._1 || (a._1 == b._1 && ids(a._2) < ids(b._2)))
    out
  }

  /** All points within `radius` (`rtree.hpp:340-362` query_ball). */
  def queryBall(q: Array[Double], radius: Double)
      : Array[(Double, Double, Long)] = {
    val r2 = radius * radius
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Double, Double, Long)]
    def visit(lo: Int, hi: Int, depth: Int): Unit = {
      if (hi <= lo) return
      val axis = depth % dims
      val mid = (lo + hi) >>> 1
      val node = index(mid)
      val d2 = dist2(node, q)
      if (d2 <= r2) out += ((math.sqrt(d2), payload(node), ids(node)))
      if (hi - lo == 1) return
      val diff = q(axis) - coords(node * dims + axis)
      if (diff < 0) {
        visit(lo, mid, depth + 1)
        if (diff * diff <= r2) visit(mid + 1, hi, depth + 1)
      } else {
        visit(mid + 1, hi, depth + 1)
        if (diff * diff <= r2) visit(lo, mid, depth + 1)
      }
    }
    visit(0, n, 0)
    out.toArray
  }

  @inline private def dist2(i: Int, q: Array[Double]): Double = {
    var s = 0.0
    var d = 0
    while (d < dims) {
      val diff = coords(i * dims + d) - q(d)
      s += diff * diff
      d += 1
    }
    s
  }

  def size: Int = n
}

object KdTree {
  /** Stable byte codec (the engine's analog of the reference R-tree
    * pickle support, `rtree.hpp:621-673`): version tag + dims + flat
    * (coords, payload, ids) arrays. Deserialization re-runs the
    * deterministic median build, so a round-trip answers every query
    * identically regardless of JVM or Spark serializer version.
    */
  def toBytes(t: KdTree): Array[Byte] = {
    val n = t.ids.length
    val bb = java.nio.ByteBuffer.allocate(4 + 4 + 4 +
      8 * t.coords.length + 8 * n + 8 * n)
    bb.putInt(0x4B445431) // "KDT1"
    bb.putInt(t.dims)
    bb.putInt(n)
    var i = 0
    while (i < t.coords.length) { bb.putDouble(t.coords(i)); i += 1 }
    i = 0
    while (i < n) { bb.putDouble(t.payload(i)); i += 1 }
    i = 0
    while (i < n) { bb.putLong(t.ids(i)); i += 1 }
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): KdTree = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt == 0x4B445431, "not a KdTree codec payload")
    val dims = bb.getInt
    val n = bb.getInt
    val coords = Array.fill(n * dims)(bb.getDouble)
    val payload = Array.fill(n)(bb.getDouble)
    val ids = Array.fill(n)(bb.getLong)
    new KdTree(dims, coords, payload, ids)
  }

  /** Build from (x, y[, z], value, id) tuples. */
  def build(points: Iterator[(Array[Double], Double, Long)], dims: Int): KdTree = {
    val cs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val vs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val is = scala.collection.mutable.ArrayBuffer.empty[Long]
    points.foreach { case (c, v, id) =>
      var d = 0
      while (d < dims) { cs += c(d); d += 1 }
      vs += v
      is += id
    }
    new KdTree(dims, cs.toArray, vs.toArray, is.toArray)
  }
}
