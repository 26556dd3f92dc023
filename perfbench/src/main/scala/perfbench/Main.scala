package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one workload in one JVM and writes what it measured to
  * `<work>/result.json`; `run.py` builds this, runs the correctness checks
  * on the outputs left under `<work>/check`, and prints the result line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --cpus <n> [--trace-out <file>]
  * }}}
  */
object Main {
  /** Input generation repeats this often; set-up counts the median. */
  val GenerateRepeats = 3
  /** Each traced layer probe repeats this often; the median is reported. */
  val ProbeRepeats = 5

  /** The ops of one closed-loop pass: one client, next op after the last. */
  final case class Loop(opSeconds: Seq[Double], cpuSeconds: Double, stealShare: Double,
                        attempted: Int, failed: Int, rowsPerOp: Long) {
    def rowsPerSecond: Double =
      if (opSeconds.isEmpty) 0.0 else rowsPerOp * opSeconds.size / opSeconds.sum
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val name = arg("workload")
    require(Workload.Names.contains(name),
      s"unknown workload '$name'; expected one of ${Workload.Names.mkString(", ")}")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val work = Paths.get(arg("work"))
    val spark = GraftSession.local(arg("cpus"))
    try run(spark, name, seed, seconds, traced, work, a.get("trace-out").map(Paths.get(_)))
    finally spark.stop()
    // a thread Spark left running must not keep the JVM alive
    sys.exit(0)
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
          traced: Boolean, work: Path, traceOut: Option[Path]): Unit = {
    val sessionS = Host.sinceStart()
    val w = Workload(name, spark, seed, work.resolve("input"))
    val off = Tracer.off(spark.sparkContext)
    val generateS = (0 until GenerateRepeats).map(_ => time(w.generate()))
    val openS = time(w.open())
    val check = work.resolve("check")
    Files.createDirectories(check)
    val warmupS = time {
      w.warmup(check)
      for (_ <- 1 until w.warmupOps) { Host.reap(spark, w.keepViews); w.op(off, -1) }
    }
    val setupS = sessionS + Host.median(generateS) + openS + warmupS
    val sizes = w.sizes
    println(s"[perfbench] $name seed=$seed sizes: " +
      sizes.map { case (k, v) => s"$k=$v" }.mkString(" "))

    try {
      val plain = loop(spark, w, off, seconds)
      val result = mutable.LinkedHashMap[String, Any](
        "workload" -> name, "seed" -> seed, "sizes" -> Json.obj(sizes),
        "setup" -> Json.obj(Seq("session_s" -> sessionS, "generate_s" -> generateS,
          "open_s" -> openS, "warmup_s" -> warmupS, "setup_s" -> setupS)),
        "loop" -> loopJson(plain))
      var attempted = plain.attempted
      var failed = plain.failed
      if (traced) {
        val (layers, tracedLoop, dump) = traceRun(spark, w, seconds, plain)
        result("per_layer") = Json.obj(layers)
        result("traced_loop") = loopJson(tracedLoop)
        attempted += tracedLoop.attempted
        failed += tracedLoop.failed
        traceOut.foreach(p => Files.write(p, dump.bytes))
      } else {
        val ms = plain.opSeconds.map(_ * 1e3)
        result("end_to_end") = Json.obj(Seq(
          "setup_s" -> setupS,
          "rows_per_s" -> plain.rowsPerSecond,
          "cpu_s_per_mrow" -> plain.cpuSeconds / (plain.rowsPerOp * plain.attempted / 1e6),
          "batch_p50_ms" -> (if (ms.isEmpty) 0.0 else Host.quantile(ms, 0.5)),
          "batch_p90_ms" -> (if (ms.isEmpty) 0.0 else Host.quantile(ms, 0.9))))
      }
      result("attempted") = attempted
      result("failed") = failed
      result("host") = Json.obj(Seq("loadavg1" -> Host.loadavg1(),
        "ref_loop_s" -> Host.refLoopSeconds()))
      result("verify_error") =
        try { w.verify(check); null }
        catch { case NonFatal(e) => e.printStackTrace(); e.toString }
      Files.write(work.resolve("result.json"), Json.obj(result.toSeq).bytes)
    } finally w.close()
  }

  /** Closed loop for `seconds`: at least one op, each after a reap. */
  def loop(spark: SparkSession, w: Workload, t: Tracer, seconds: Double): Loop = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ok = mutable.ArrayBuffer.empty[Double]
    var cpu = 0.0
    val ticks0 = Host.cpuTicks()
    var attempted = 0
    var failed = 0
    while ((attempted == 0 || System.nanoTime() < deadline) && w.hasNext) {
      Host.reap(spark, w.keepViews)
      val c0 = Host.threadCpuNs()
      val t0 = System.nanoTime()
      val opId = t.spans.count(_.name == "op")
      val done =
        try { t.span("op", opId)(w.op(t, opId)); true }
        catch { case NonFatal(e) => e.printStackTrace(); false }
      val dt = (System.nanoTime() - t0) / 1e9
      cpu += Host.threadCpuSecondsSince(c0)
      attempted += 1
      if (done) ok += dt else failed += 1
    }
    val ticks1 = Host.cpuTicks()
    val steal = (ticks1._2 - ticks0._2).toDouble / math.max(1L, ticks1._1 - ticks0._1)
    Loop(ok.toSeq, cpu, steal, attempted, failed, w.rowsPerOp)
  }

  private def loopJson(l: Loop): Json.Raw = Json.obj(Seq(
    "op_s" -> l.opSeconds, "cpu_s" -> l.cpuSeconds, "steal_frac" -> l.stealShare,
    "attempted" -> l.attempted,
    "failed" -> l.failed, "rows_per_op" -> l.rowsPerOp, "rows_per_s" -> l.rowsPerSecond))

  /** Per-layer metrics of a traced loop, and the spans behind them. A
    * metric whose layer the workload does not exercise reads 0 and is
    * named in `not_applicable`.
    */
  def traceRun(spark: SparkSession, w: Workload, seconds: Double,
               plain: Loop): (Seq[(String, Any)], Loop, Json.Raw) = {
    val sc = spark.sparkContext
    val t = new Tracer(sc, enabled = true)
    val sparkWork = new WorkListener(t)
    val progress = new ProgressListener
    sc.addSparkListener(sparkWork)
    spark.streams.addListener(progress)
    for (_ <- 0 until ProbeRepeats) { Host.reap(spark, w.keepViews); w.probe(t) }
    val firstBatch = w.stream.flatMap(q => Option(q.lastProgress)).map(_.batchId + 1).getOrElse(0L)
    val traced = loop(spark, w, t, seconds)
    ListenerBus.drain(sc)
    val lastBatch = w.stream.flatMap(q => Option(q.lastProgress)).map(_.batchId).getOrElse(-1L)
    val waitUntil = System.nanoTime() + 10e9.toLong
    while (progress.snapshot.forall(_.batchId < lastBatch) && w.stream.nonEmpty &&
           System.nanoTime() < waitUntil) Thread.sleep(20)
    sc.removeSparkListener(sparkWork)
    spark.streams.removeListener(progress)
    val maskedRows = w.maskedRows()

    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Host.median(xs)
    val ops = t.ofName("op").filter(_.op >= 0)
    /** Per op, the summed seconds of the spans named `name`. */
    def perOp(name: String): Seq[Double] =
      ops.map(o => t.spans.filter(s => s.op == o.op && s.name == name).map(_.seconds).sum)
    def workOf(spans: Seq[Span]): SparkWork = sparkWork.total(spans)
    def opWork: Seq[SparkWork] = ops.map(o => workOf(t.spans.filter(_.op == o.op).toSeq))
    val scan = t.ofName("sources.scan")
    val mask = t.ofName("core.mask")
    val scanS = med(scan.map(_.seconds))
    val maskS = med(mask.map(_.seconds))
    val fitSpans = t.ofName("estimators.fit")
    val predictSpans = t.ofName("estimators.predict")
    val predictWork = ops.map(o => workOf(predictSpans.filter(_.op == o.op)))
    val queries = Seq("q_std_scaler", "q_minmax_scaler", "q_kbins", "q_l2norm", "q_pca", "q_poly")
    val batches = progress.snapshot.filter(_.batchId >= firstBatch)
    def durations(key: String): Seq[Double] =
      batches.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))
    def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Seq[Double] =
      batches.filter(_.stateOperators.nonEmpty).map(_.stateOperators.map(f).sum)

    val layers = Seq[(String, Double, Boolean)](
      ("sources.scan_s", scanS, scan.nonEmpty),
      ("sources.scan_tasks", med(scan.map(s => workOf(Seq(s)).inputTasks.toDouble)), scan.nonEmpty),
      ("sources.scan_cpu_s", med(scan.map(s => workOf(Seq(s)).cpuNs / 1e9)), scan.nonEmpty),
      ("core.mask_s", maskS - scanS, mask.nonEmpty),
      ("core.masked_rows", maskedRows.toDouble, true),
      ("estimators.fit_s", med(perOp("estimators.fit")), fitSpans.nonEmpty),
      ("estimators.fit_jobs", med(ops.map(o =>
        workOf(fitSpans.filter(_.op == o.op)).jobs.toDouble)), fitSpans.nonEmpty),
      ("estimators.predict_s", med(perOp("estimators.predict")) - maskS, predictSpans.nonEmpty),
      ("estimators.predict_cpu_s", med(predictWork.map(_.cpuNs / 1e9)), predictSpans.nonEmpty),
      ("estimators.predict_max_task_share", med(predictWork.filter(_.taskRunMs > 0)
        .map(p => p.maxTaskRunMs.toDouble / p.taskRunMs)), predictSpans.nonEmpty)) ++
      queries.map(q => (s"operators.${q}_s", med(perOp(s"operators.$q")),
        t.ofName(s"operators.$q").nonEmpty)) ++
      Seq[(String, Double, Boolean)](
        ("operators.jobs", med(opWork.map(_.jobs.toDouble)), true),
        ("operators.stages", med(opWork.map(_.stages.toDouble)), true),
        ("operators.single_task_stage_s", med(opWork.map(_.singleTaskStageMs / 1e3)), true),
        ("operators.shuffle_write_mb", med(opWork.map(_.shuffleWriteBytes / 1048576.0)), true),
        ("operators.spill_mb", med(opWork.map(_.spillBytes / 1048576.0)), true),
        ("operators.exec_cpu_s", med(opWork.map(_.cpuNs / 1e9)), true),
        ("streaming.batches", batches.size.toDouble, w.stream.nonEmpty),
        ("streaming.add_batch_ms", med(durations("addBatch")), w.stream.nonEmpty),
        ("streaming.wal_commit_ms", med(durations("walCommit")), w.stream.nonEmpty),
        ("streaming.state_commit_ms", med(stateSum(_.commitTimeMs.toDouble)), w.stream.nonEmpty),
        ("streaming.state_rows", med(stateSum(_.numRowsTotal.toDouble)), w.stream.nonEmpty),
        ("streaming.state_mem_mb", med(stateSum(_.memoryUsedBytes / 1048576.0)), w.stream.nonEmpty),
        ("streaming.rows_dropped", stateSum(_.numRowsDroppedByWatermark.toDouble).sum,
          w.stream.nonEmpty),
        ("trace.rows_per_s", traced.rowsPerSecond, true),
        ("trace.overhead_frac", 1.0 - traced.rowsPerSecond / plain.rowsPerSecond, true),
        ("trace.op_span_cover", ops.map(_.seconds).sum / traced.opSeconds.sum, true))

    val metrics = layers.map { case (n, v, applies) => n -> (if (applies) v else 0.0) } :+
      ("not_applicable" -> layers.filterNot(_._3).map(_._1))
    val dump = Json.obj(Seq(
      "per_layer" -> Json.obj(metrics),
      "spans" -> t.spans.toSeq.map { s =>
        val wk = workOf(Seq(s))
        Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_s" -> (s.start - t.spans.head.start) / 1e9, "seconds" -> s.seconds,
          "self_s" -> t.selfSeconds(s), "jobs" -> wk.jobs, "stages" -> wk.stages,
          "tasks" -> wk.tasks, "exec_cpu_s" -> wk.cpuNs / 1e9))
      }))
    (metrics, traced, dump)
  }
}

/** Just enough JSON writing for the result and trace files. */
object Json {
  final case class Raw(text: String) {
    def bytes: Array[Byte] = text.getBytes(StandardCharsets.UTF_8)
  }

  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(text) => text
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
      d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
