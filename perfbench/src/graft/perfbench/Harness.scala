package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** An op whose output fails its check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  def close(a: Double, b: Double, rel: Double, what: String): Unit =
    apply(math.abs(a - b) <= rel * math.max(1.0, math.abs(b)),
      s"$what: $a differs from $b")
}

/** One attempted op. `seconds` is NaN when the op threw or its output
  * failed the check: a failure never counts as a timing.
  */
final case class OpRec(index: Int, round: Int, kind: String,
                       seconds: Double, traced: Boolean, error: String) {
  def ok: Boolean = error.isEmpty
}

/** Runs ops in a closed loop from the driver thread, checks each op's
  * output after timing it, and records failures. `failAt` (1-based op
  * index, 0 = never) makes that op throw, so tests can show a failing op
  * surfaces as a failure.
  */
final class Runner(val tracer: Tracer, failAt: Int) {
  val ops = ArrayBuffer.empty[OpRec]
  var round = 0
  /** 1-based index of the op being run. */
  var current = 0

  /** Times `body` (a call into `layer` plus the action that materializes
    * its result), then runs `check` on the result outside the timing.
    */
  def op[T](kind: String, layer: String)(body: => T)(check: T => Unit)
      : Option[T] = {
    val index = ops.length + 1
    current = index
    tracer.beginOp(index)
    val traced = tracer.enabled
    try {
      val (v, sec) = tracer.span(kind, "bench") {
        val t0 = System.nanoTime()
        val v = tracer.span(kind, layer) {
          if (index == failAt)
            throw new IllegalStateException(s"injected failure in op $index")
          body
        }
        val sec = (System.nanoTime() - t0) / 1e9
        check(v)
        (v, sec)
      }
      ops += OpRec(index, round, kind, sec, traced, "")
      System.err.println(f"[perfbench] op $index ($kind) $sec%.3f s")
      Some(v)
    } catch {
      case NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[perfbench] op $index ($kind) FAILED: $msg")
        ops += OpRec(index, round, kind, Double.NaN, traced,
          s"${e.getClass.getSimpleName}: $msg")
        None
    }
  }
}

object Stats {
  /** The quantile `op_s_tail` reports. A run has 15 to 30 ops of up to
    * five kinds, so the quantile with ten samples beyond it ([[tail]]) sits
    * in the body of the mix and moves between kinds as the op count
    * changes; the 90th percentile stays among the slowest kind's ops.
    */
  val TailQ = 0.9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile that has at least ten samples beyond it: the
    * eleventh-largest value, at percentile 100 * (n - 10) / n. Below eleven
    * samples no such percentile exists and the maximum is returned, at
    * percentile 100. Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n) else (s.last, 100.0)
  }
}

/** Heap in use right after a full collection, sampled at the end of
  * every steady round: its maximum is the run's peak retained heap. The
  * collection also gives every round the same clean heap to start from.
  */
object HeapWatch {
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peak) peak = used
  }

  def peakMb: Double = peak / 1048576.0
}

/** Host facts every result record carries. */
final case class Host(nproc: Int, heapMb: Long, spark: String, jdk: String)

object Session {
  /** local[cores] with shuffle partitions from the core count; scratch
    * and warehouse directories inside `workDir`.
    */
  def create(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the status store keeps a bounded history, so the heap after GC
      // measures the engine's retained data and not how many ops ran
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.dagGraph.retainedRootRDDs", "50")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
