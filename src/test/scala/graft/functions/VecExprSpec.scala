package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, SparkTestSession}

/** Bit-exactness of the fused vector kernels (r7 optimization) against
  * the higher-order-function Column forms they replaced: same IEEE op
  * order, same null/empty behavior — the frozen DuckDB oracles depend
  * on the results being IDENTICAL, not merely close.
  */
class VecExprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def h(a: Long, b: Long): Double = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)).toDouble / Long.MaxValue.toDouble
  }

  private def vecs(n: Int, dims: Int) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dims)(d => (h(i, d) * 3.7).toFloat))
    }.toDF("id", "embedding")

  test("CosineSimilarity is bit-identical to the dot/norm HOF chain") {
    val df = vecs(200, 64)
    val pairs = df.select(col("id").as("ia"), col("embedding").as("ea"))
      .crossJoin(df.select(col("id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") < col("ib") && (col("ib") - col("ia")) % 37 === 0)
    val hof = Similarity.dot(col("ea").cast("array<double>"),
        col("eb").cast("array<double>")) /
      (Similarity.norm(col("ea").cast("array<double>")) *
        Similarity.norm(col("eb").cast("array<double>")))
    val bad = pairs.select(
        Similarity.cosine(col("ea"), col("eb")).as("fused"), hof.as("hof"))
      .filter(col("fused") =!= col("hof")).count()
    assert(bad == 0L)
  }

  test("LshBucket is bit-identical to the per-plane HOF form") {
    val df = vecs(500, 48)
    val planes = 6; val dims = 48
    for (seed <- Seq(42L, 42L + 7919L, 42L + 3 * 7919L)) {
      val m = Similarity.planeMatrix(planes, dims, seed)
      val hof = (0 until planes).map { p =>
        val proj = aggregate(
          zip_with(col("embedding").cast("array<double>"),
            typedLit(m(p).toSeq), (x, hh) => x * hh),
          lit(0.0d), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
      val bad = df.select(
          Similarity.lshBucket(col("embedding"), planes, dims, seed)
            .as("fused"), hof.as("hof"))
        .filter(col("fused") =!= col("hof")).count()
      assert(bad == 0L, s"seed $seed")
    }
  }

  test("JaccardCoeff equals intersect/union ratio on distinct arrays") {
    // NOTE: no pair of BOTH-empty shingle arrays here — that divides by
    // zero, which ANSI mode turns into an error in the Column form and
    // in the fused kernel alike (pinned separately below)
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g x"),
      (3L, "p q r s"), (4L, "x y"), (6L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(col("text"), 2)
    val withSh = docs.select(col("doc_id").as("id"), sh.as("sh"))
    val pairs = withSh.select(col("id").as("ia"), col("sh").as("sa"))
      .crossJoin(withSh.select(col("id").as("ib"), col("sh").as("sb")))
      .filter(col("ia") < col("ib"))
    val hof = size(array_intersect(col("sa"), col("sb"))).cast("double") /
      size(array_union(col("sa"), col("sb")))
    val fused = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.JaccardCoeff(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("sa")),
        org.apache.spark.sql.graft.ColumnBridge.expression(col("sb"))))
    val rows = pairs.select(hof.as("h"), fused.as("f")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getDouble(0); val f = r.getDouble(1)
      assert(h.isNaN == f.isNaN && (h.isNaN || h == f), s"$h vs $f")
    }
    // both-empty: the ANSI divide-by-zero contract is preserved
    val empty = Seq((1L, ""), (2L, "")).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text"), 2).as("sh"))
    val ep = empty.select(col("doc_id").as("ia"), col("sh").as("sa"))
      .crossJoin(empty.select(col("doc_id").as("ib"), col("sh").as("sb")))
      .filter(col("ia") < col("ib"))
    intercept[Exception] {
      ep.select(fused.as("f")).collect()
    }
  }

  test("null inputs: LshBucket -> 0, MinhashFromHashes -> k null slots") {
    import org.apache.spark.sql.graft.ColumnBridge
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, null))
      .toDF("id", "embedding")
    // HOF form on a null embedding: null projection -> `when` false
    // branch -> 0 per plane; the fused expression must match
    val buckets = df.select(col("id"),
        Similarity.lshBucket(col("embedding"), 4, 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets.keySet == Set(1L, 2L))
    assert(buckets(2L) == 0L)
    val hofBucket = {
      val m = Similarity.planeMatrix(4, 2, 42L)
      (0 until 4).map { p =>
        val proj = aggregate(
          zip_with(col("embedding").cast("array<double>"),
            typedLit(m(p).toSeq), (x, hh) => x * hh),
          lit(0.0d), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
    }
    val hofB = df.select(col("id"), hofBucket.as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets == hofB)
    // null hash array -> k null slots (array(array_min(transform(null))))
    val hd = Seq((1L, Array(7L, 9L)), (2L, null)).toDF("id", "hashes")
    val sig = hd.select(
        Dedup.minhashSignatureFromHashes(col("hashes"), 3).as("s"))
      .collect()
    assert(sig.forall(!_.isNullAt(0)))
    assert(sig.exists(_.getSeq[Any](0) == Seq(null, null, null)))
  }

  test("shingleHashes / minhashSignature match the HOF forms, incl. empty") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely different text with other words entirely here"),
      (4L, "xy"), // fewer tokens than shingleN -> empty shingles
      (5L, "a b c")).toDF("doc_id", "text")
    val k = 16
    val sh = Dedup.shingles(col("text"), 3)
    val hofHashes = transform(sh, s => xxhash64(s))
    def mix(seed: Long): Long = {
      var z = seed + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val hofSig = array((0 until k).map { i =>
      val r = 1 + (mix(2L * i).toInt & 62)
      val b = mix(2L * i + 1)
      array_min(transform(hofHashes, hh =>
        shiftleft(hh, r).bitwiseOR(shiftrightunsigned(hh, 64 - r))
          .bitwiseXOR(lit(b))))
    }: _*)
    val rows = docs.select(
        Dedup.shingleHashes(sh).as("fh"), hofHashes.as("hh"),
        Dedup.minhashSignatureFromHashes(Dedup.shingleHashes(sh), k)
          .as("fs"),
        hofSig.as("hs"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      assert(r.getSeq[Any](2) == r.getSeq[Any](3))
    }
  }
  /** The exception a failed job surfaces, whatever Spark wraps it in. */
  private def rootMessage(body: => Any): String = {
    var t: Throwable = intercept[Exception](body)
    while (t.getCause != null) t = t.getCause
    s"${t.getClass.getSimpleName}: ${t.getMessage}"
  }

  test("CosineSimilarity throws on length-mismatched embeddings") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("ea", "eb")
    val msg = rootMessage(
      df.select(Similarity.cosine(col("ea"), col("eb"))).collect())
    assert(msg.contains("length-mismatched"), msg)
  }

  test("LshBucket throws on an embedding that is not dims long") {
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "embedding")
    val msg = rootMessage(df.select(
      Similarity.lshBucket(col("embedding"), 4, 2)).collect())
    assert(msg.contains("3-element embedding"), msg)
  }

  test("MinhashFromHashes skips null elements like array_min") {
    val hd = Seq((1L, Seq[java.lang.Long](7L, null, 9L)),
        (2L, Seq[java.lang.Long](null, null)))
      .toDF("id", "hashes")
    val k = 4
    val sig = hd.select(col("id"),
        Dedup.minhashSignatureFromHashes(col("hashes"), k).as("s"),
        Dedup.minhashSignatureFromHashes(
          array_compact(col("hashes")), k).as("c"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Any](1), r.getSeq[Any](2)))
      .toMap
    // nulls dropped == nulls never there; all-null == empty -> null slots
    assert(sig(1L)._1 == sig(1L)._2 && !sig(1L)._1.contains(null))
    assert(sig(2L)._1 == Seq.fill(k)(null) && sig(2L)._2 == sig(2L)._1)
  }

  test("n-gram Jaccard prunes empty-shingle pairs at every threshold") {
    // "x" and "y" have no 2-gram: their pair has no defined Jaccard and is
    // pruned; each one's self-pair must not fail the all-pairs scoring
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "a b c")).toDF("id", "text")
    for (t <- Seq(-1.0, 0.0, 0.5)) {
      val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", shingleN = 2,
          threshold = t, allPairs = true).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = if (t > 0.0) Set.empty[(Long, Long, Double)]
        else Set((1L, 3L, 0.0), (2L, 3L, 0.0))
      assert(pairs == want, s"threshold $t")
    }
  }
}
