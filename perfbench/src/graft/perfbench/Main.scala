package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** A traced op with everything recorded under its spans. */
final case class OpAttribution(rec: OpRec, root: Span, call: Span, jobs: Int,
                               stages: Seq[StageRec], tasks: Seq[TaskRec])

/** Benchmark entry point, launched by `run.py`:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --out <dir> --source <hash> --commit <git commit> [--fail-op <i>]
  * }}}
  *
  * Sets the workload up `SetupReps` times, runs its unmeasured warm-up
  * rounds (the first is the cold round), then runs rounds in a closed loop
  * from this thread for `--seconds`. With
  * `--trace 0` it reports the end-to-end metrics; with `--trace 1` it
  * interleaves traced and untraced rounds and reports the per-layer
  * metrics and the tracing overhead. A traced run also probes the other
  * workloads (see `probe`), so it reports the layers its own workload
  * does not run, measured on the inputs of the workloads that do. Human-readable lines go to stdout,
  * the full record (and, traced, every span and listener record) to
  * `<out>/`, and the result line to `<out>/result.json`. Exit code 1 when
  * any op failed, 2 on bad arguments.
  */
object Main {
  private val SetupReps = 3
  // rounds of another workload run in a traced run to measure its layers
  private val ProbeRounds = 2

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, out: String, source: String,
                        commit: String, failOp: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong,
      need("seconds").toDouble, need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t")
      }, need("out"), m.getOrElse("source", "unknown"),
      m.getOrElse("commit", "none"),
      m.get("fail-op").map(_.toInt).getOrElse(0))
    require(Workloads.Names.contains(a.workload),
      s"unknown workload '${a.workload}' (one of " +
        s"${Workloads.Names.mkString(", ")})")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] ${e.getMessage}")
        sys.exit(2)
    }
    val work = new File(a.out, s"work-${a.workload}-${a.seed}-" +
      ProcessHandle.current().pid())
    work.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = Session.create(nproc, work.getAbsolutePath)
    val host = Host(nproc, Runtime.getRuntime.maxMemory / 1048576,
      spark.version, System.getProperty("java.version"))
    val code =
      try run(spark, a, host, work.getAbsolutePath)
      finally {
        SparkSession.getActiveSession.foreach(_.stop())
        Workloads.deleteRecursively(work)
      }
    sys.exit(code)
  }

  private def run(spark0: SparkSession, a: Args, host: Host, work: String)
      : Int = {
    var spark = spark0
    val wl = Workloads(a.workload, spark, a.seed, work, host.nproc)
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    wl.prepareChecks()

    val tracer = new Tracer(spark.sparkContext)
    val recorder = new StageRecorder
    if (a.trace) spark.sparkContext.addSparkListener(recorder)
    val runner = new Runner(tracer, a.failOp)

    (1 to wl.warmRounds).foreach(_ => wl.round(runner))
    val coldS = runner.ops.headOption.filter(_.ok).map(_.seconds)
      .getOrElse(Double.NaN)
    val roundS = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (System.nanoTime() < deadline || runner.round == 0) {
      runner.round += 1
      // traced rounds in an untraced-traced-traced-untraced pattern, so a
      // steady drift (JIT warm-up) does not bias the overhead estimate
      tracer.enabled = a.trace && (runner.round % 4 == 2 ||
        runner.round % 4 == 3)
      val from = runner.ops.length
      wl.round(runner)
      HeapWatch.sample()
      val done = runner.ops.drop(from)
      if (done.forall(_.ok)) roundS += ((done.map(_.seconds).sum,
        tracer.enabled))
    }
    tracer.enabled = false
    val heapMb = HeapWatch.peakMb

    val steady = runner.ops.filter(_.round > 0).toSeq
    val plain = steady.filter(o => o.ok && !o.traced)
    val plainRounds = roundS.filterNot(_._2).map(_._1).toSeq

    val e2e: Seq[Metric] = Try {
      val times = plain.map(_.seconds)
      val (tail, pct) = Stats.tail(times)
      Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        Metric("round_s_p50", Stats.median(plainRounds), "s"),
        Metric("op_s_tail", Stats.quantile(times, Stats.TailQ), "s"),
        Metric("heap_peak_mb", heapMb, "MB")) ++
        wl.named(plain) ++ Seq(
        Metric("op_s_tail_pct", 100 * Stats.TailQ, "%"),
        Metric("op_s_tail_rule", tail, "s"),
        Metric("op_s_tail_rule_pct", pct, "%"),
        Metric("ops_timed", plain.length, "count"),
        Metric("rounds_timed", plainRounds.length, "count"))
    }.getOrElse(Nil)

    val probeRuns = ArrayBuffer.empty[Runner]
    val layers: Seq[Metric] =
      if (!a.trace) Nil
      else {
        ListenerDrain(spark.sparkContext)
        val ops = attribute(tracer, recorder, runner)
        // kernel spans belong to no op: op id 0
        tracer.beginOp(0)
        tracer.enabled = true
        val kernels = Kernels.run(a.seed, tracer).map { case (n, v, u) =>
          Metric(n, v, u)
        }
        tracer.enabled = false
        writeTrace(a, tracer, recorder)
        val extras = wl.layerExtras(runner, recorder, ops)
        val traced = roundS.filter(_._2).map(_._1).toSeq
        val overhead = Stats.median(traced) - Stats.median(plainRounds)
        val measured = kernels ++ extras ++ stageMetrics(ops) ++
          Seq(Metric("cold_op_s", coldS, "s"),
            Metric("trace.overhead_s", overhead, "s"),
            Metric("trace.overhead_frac",
              overhead / Stats.median(plainRounds), "ratio"))
        // the layers this workload does not run, measured on the inputs of
        // the workloads that do
        val probed = Workloads.Names.filterNot(_ == a.workload).map { n =>
          probe(spark, Workloads(n, spark, a.seed, work, host.nproc))
        }
        probeRuns ++= probed.map(_._2)
        // tiles/s at nproc from the tiles ops past the cold round
        val (tiles, tilesOps) = ((wl, runner) +: probed.map(p => (p._1, p._2)))
          .collectFirst { case (t: TilesWorkload, r) => (t, r.ops) }.get
        val rateN = tiles.tiles / Stats.median(tilesOps
          .filter(o => o.ok && o.round > 0).map(_.seconds).toSeq)
        spark.stop()
        spark = Session.create(1, work)
        val rate1 = tiles.tiles / tiles.opSeconds(spark)
        val scaling = Metric("tiles.scaling_eff", rateN / rate1 / host.nproc,
          "ratio")
        val own = (measured :+ scaling).map(_.name).toSet
        measured ++ probed.flatMap(_._3).filterNot(m => own(m.name)) :+
          scaling
      }
    val allOps = runner.ops ++ probeRuns.flatMap(_.ops)
    val attempted = allOps.length
    val failed = allOps.count(!_.ok)

    val shown = if (a.trace) layers else e2e
    println(s"[perfbench] workload=${a.workload} seed=${a.seed} " +
      s"trace=${if (a.trace) 1 else 0} nproc=${host.nproc} " +
      s"heap_mb=${host.heapMb} spark=${host.spark} jdk=${host.jdk} " +
      s"source=${a.source} commit=${a.commit}")
    println(s"[perfbench] inputs: " +
      wl.inputs.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(f"[perfbench] attempted=$attempted failed=$failed " +
      f"fail_frac=${failed.toDouble / attempted}%.4f " +
      s"(warm-up ops excluded from timings: ${runner.ops.count(_.round == 0)})")
    shown.foreach(m => println(f"[perfbench] ${m.name}%-38s ${m.value}%.6g ${m.unit}"))

    val recordFields = Seq[(String, Any)](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> host.nproc, "heap_mb" -> host.heapMb,
      "spark" -> host.spark, "jdk" -> host.jdk, "source" -> a.source,
      "commit" -> a.commit,
      "inputs" -> wl.inputs.toMap, "attempted" -> attempted,
      "failed" -> failed, "fail_frac" -> failed.toDouble / attempted,
      "setup_s_each" -> setupS,
      "warmup_ops" -> runner.ops.count(_.round == 0),
      "failures" -> allOps.filterNot(_.ok).map(o =>
        Map("op" -> o.index, "kind" -> o.kind, "error" -> o.error)),
      "ops" -> runner.ops.map(o => Map("index" -> o.index,
        "round" -> o.round, "kind" -> o.kind, "seconds" -> o.seconds,
        "traced" -> o.traced, "error" -> o.error)),
      "metrics" -> (e2e ++ layers).map(m =>
        m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)
    write(new File(a.out, s"record-${a.workload}-seed${a.seed}-trace" +
      s"${if (a.trace) 1 else 0}.json"), Json(recordFields.toMap))

    val result = Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> shown.map(m =>
        m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)
    write(new File(a.out, "result.json"), Json(result))
    if (failed > 0) 1 else 0
  }

  /** Sets `wl` up once and runs `ProbeRounds` traced rounds of it, the
    * first of which is cold. Returns the workload, its runner and the
    * per-layer metrics of its last round: its own extras and layer self
    * times, which the caller keeps where its workload has none.
    */
  private def probe(spark: SparkSession, wl: Workload)
      : (Workload, Runner, Seq[Metric]) = {
    val sc = spark.sparkContext
    wl.setup(0)
    wl.prepareChecks()
    val tracer = new Tracer(sc)
    tracer.enabled = true
    val rec = new StageRecorder
    sc.addSparkListener(rec)
    val runner = new Runner(tracer, 0)
    try (0 until ProbeRounds).foreach { r =>
      runner.round = r
      wl.round(runner)
    } finally {
      ListenerDrain(sc)
      sc.removeSparkListener(rec)
    }
    val ops = attribute(tracer, rec, runner)
      .filter(_.rec.round == ProbeRounds - 1)
    (wl, runner, wl.layerExtras(runner, rec, ops) ++
      stageMetrics(ops).filter(_.name.startsWith("self.")))
  }

  /** Joins each traced, successful op with the spans, jobs, stages and
    * tasks recorded under it.
    */
  private def attribute(tracer: Tracer, rec: StageRecorder, runner: Runner)
      : Seq[OpAttribution] = {
    val byOp = tracer.spans.groupBy(_.op)
    runner.ops.filter(o => o.traced && o.ok).toSeq.flatMap { o =>
      val spans = byOp.getOrElse(o.index, Nil)
      for {
        root <- spans.find(_.parent < 0)
        call <- spans.find(_.parent == root.id)
      } yield {
        val ids = spans.map(_.id).toSet
        val stages = rec.stages.filter(s => ids(s.span)).toSeq
        val stageIds = stages.map(_.stageId).toSet
        OpAttribution(o, root, call, rec.jobs.count(j => ids(j.span)),
          stages, rec.tasks.filter(t => stageIds(t.stageId)).toSeq)
      }
    }
  }

  /** Spark stage metrics and layer self times, per traced op, as the mean
    * over ops (the task skew as the median).
    */
  private def stageMetrics(ops: Seq[OpAttribution]): Seq[Metric] =
    if (ops.isEmpty) Nil
    else {
      def mean(f: OpAttribution => Double) = ops.map(f).sum / ops.length
      def iv(ts: Seq[TaskRec]) = ts.map(t => (t.launchMs, t.finishMs))
      def siv(ss: Seq[StageRec]) = ss.map(s => (s.submitMs, s.doneMs))
      def covered(xs: Seq[(Double, Double)], s: Span) =
        Intervals.covered(xs, s.startMs, s.endMs) / 1000.0
      val skew = ops.flatMap { o =>
        o.stages.sortBy(s => (-s.numTasks, s.stageId)).headOption.map { w =>
          val d = o.tasks.filter(_.stageId == w.stageId)
            .map(t => t.finishMs - t.launchMs)
          if (d.isEmpty) 1.0 else d.max / math.max(1.0, Stats.median(d))
        }
      }
      def selfLayer(layer: String) = {
        val in = ops.filter(_.call.layer == layer)
        in.headOption.map(_ => Metric(s"self.${layer}_s", in.map(o =>
          o.call.seconds - covered(siv(o.stages), o.call)).sum / in.length,
          "s"))
      }
      Seq(
        Metric("stage.jobs", mean(_.jobs.toDouble), "count"),
        Metric("stage.driver_only_s",
          mean(o => o.call.seconds - covered(iv(o.tasks), o.call)), "s"),
        Metric("stage.task_s", mean(_.tasks.map(_.runMs).sum / 1000.0), "s"),
        Metric("stage.gc_s", mean(_.tasks.map(_.gcMs).sum / 1000.0), "s"),
        Metric("stage.spill_bytes", mean(_.tasks.map(_.spillBytes).sum
          .toDouble), "bytes"),
        Metric("stage.shuffle_write_bytes",
          mean(_.tasks.map(_.shuffleWriteBytes).sum.toDouble), "bytes"),
        Metric("stage.shuffle_read_bytes",
          mean(_.tasks.map(_.shuffleReadBytes).sum.toDouble), "bytes"),
        Metric("stage.task_wait_s", mean { o =>
          val submit = o.stages.map(s => s.stageId -> s.submitMs).toMap
          val w = o.tasks.flatMap(t => submit.get(t.stageId)
            .map(s => (t.launchMs - s) / 1000.0))
          if (w.isEmpty) 0.0 else w.sum / w.length
        }, "s"),
        Metric("stage.task_skew", if (skew.isEmpty) 0.0
          else Stats.median(skew), "ratio"),
        Metric("self.bench_s",
          mean(o => o.root.seconds - o.call.seconds), "s"),
        Metric("self.stage_s", mean(o => covered(siv(o.stages), o.call) -
          covered(iv(o.tasks), o.call)), "s"),
        Metric("self.task_s", mean(o => covered(iv(o.tasks), o.call)), "s")) ++
        selfLayer("pipeline") ++ selfLayer("operators")
    }

  private def writeTrace(a: Args, tr: Tracer, rec: StageRecorder): Unit = {
    def obj(p: Product) = p.productElementNames.zip(p.productIterator).toMap
    write(new File(a.out, s"trace-${a.workload}-seed${a.seed}.json"),
      Json(Map("spans" -> tr.spans.map(obj).toSeq,
        "jobs" -> rec.jobs.map(obj).toSeq,
        "stages" -> rec.stages.map(obj).toSeq,
        "tasks" -> rec.tasks.map(obj).toSeq)))
  }

  private def write(f: File, text: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.println(text) finally w.close()
  }
}

/** Minimal JSON writer for result records; non-finite numbers as null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" +
      apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
