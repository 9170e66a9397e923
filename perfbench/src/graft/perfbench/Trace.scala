package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One timed interval. `parent` is the enclosing span (-1 at the root);
  * every span of one benchmark op shares `op`. Times are wall-clock
  * epoch milliseconds so they line up with Spark's task and stage times.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      layer: String, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Spans recorded from the benchmark's own code around calls into the
  * engine, kept in memory until the run ends. While a span is open, the
  * Spark jobs it submits carry `perfbench span=<id>` as their job
  * description, which is how [[StageRecorder]] attributes stages and
  * tasks to it. Disabled, `span` only evaluates its body.
  */
final class Tracer(sc: SparkContext) {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  var enabled = false
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1

  private def nowMs(): Double = ms0 + (System.nanoTime() - ns0) / 1e6

  def beginOp(index: Int): Unit = op = index

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val prevDesc = sc.getLocalProperty(Tracer.DescriptionKey)
      sc.setJobDescription(s"${Tracer.Tag}$id")
      val t0 = nowMs()
      try body
      finally {
        val t1 = nowMs()
        stack = stack.tail
        sc.setJobDescription(prevDesc)
        spans += Span(id, parent, op, name, layer, t0, t1)
      }
    }
}

object Tracer {
  val Tag = "perfbench span="
  val DescriptionKey = "spark.job.description"
}

final case class JobRec(jobId: Int, span: Int)
final case class StageRec(stageId: Int, span: Int, submitMs: Double,
                          doneMs: Double, numTasks: Int)
final case class TaskRec(stageId: Int, launchMs: Double, finishMs: Double,
                         runMs: Long, gcMs: Long, spillBytes: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         shuffleReadBytes: Long, recordsRead: Long)

/** Listener that keeps job, stage and task records of traced jobs in
  * memory. Untraced jobs (no span tag) are ignored.
  */
final class StageRecorder extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val stageSpan = scala.collection.mutable.Map.empty[Int, Int]

  private def spanOf(desc: String): Int =
    if (desc != null && desc.startsWith(Tracer.Tag))
      desc.substring(Tracer.Tag.length).toInt
    else -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(Option(e.properties)
      .map(_.getProperty(Tracer.DescriptionKey)).orNull)
    if (span >= 0) {
      jobs += JobRec(e.jobId, span)
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stageSpan.get(i.stageId).foreach { span =>
        stages += StageRec(i.stageId, span,
          i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble, i.numTasks)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageSpan.contains(e.stageId) && e.taskInfo != null &&
        e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble, m.executorRunTime, m.jvmGCTime,
        m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.inputMetrics.recordsRead)
    }
  }
}

/** SQL metrics of an executed query, read from its final physical plan. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  def sum(df: DataFrame, metric: String)(pick: SparkPlan => Boolean): Long =
    collect(df.queryExecution.executedPlan) {
      case p if pick(p) && p.metrics.contains(metric) => p.metrics(metric).value
    }.sum
}

/** Length of the union of intervals, clipped to [lo, hi]. */
object Intervals {
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) {
          total += b - math.max(a, end)
          end = b
        }
      }
    total
  }
}
