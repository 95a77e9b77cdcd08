package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

/** Output checks for one call: each named check returns an error or None.
  * An output equal (by `same`) to one that already passed is not checked
  * again, so the expensive independent computations run once per distinct
  * output. `perturbations` are the self-test: each changes a correct output
  * in a way one of the checks must reject. */
final class Verify[T](val checks: Seq[(String, T => Option[String])],
                      same: (T, T) => Boolean,
                      val perturbations: Seq[(String, T => T)] = Seq.empty) {
  private var passed: Option[T] = None
  def run(v: T, useCache: Boolean = true): Seq[String] =
    if (useCache && passed.exists(same(_, v))) Nil
    else {
      val errs = checks.flatMap { case (n, c) =>
        (try c(v) catch { case NonFatal(e) => Some(s"check threw $e") })
          .map(e => s"$n: $e")
      }
      if (errs.isEmpty) passed = Some(v)
      errs
    }
}

/** Per-round and per-call bookkeeping shared by the workloads. */
final class Ctx(tracer: Option[Tracer], selfTest: Boolean) {
  private val mx = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs: Long = { var t = 0L; gcs.forEach(g => t += g.getCollectionTime); t }

  var attempted, failed = 0
  var wrong = 0                 // outputs that failed a check
  var checkNanos = 0L
  val selfTestResults = mutable.ArrayBuffer.empty[(String, String, Boolean)]

  // the current round
  private var round: Option[Span] = None
  var roundWall, roundCpu, roundGc = 0L

  def inRound(name: String)(body: => Unit): Unit = {
    roundWall = 0; roundCpu = 0; roundGc = 0
    round = tracer.map(_.open(-1, "round", name))
    body
    round.foreach(s => tracer.foreach(_.close(s)))
  }

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  /** Runs one call into a layer, timed, then checks its output outside
    * the timed interval. Returns None when the call threw or its output
    * failed a check; both count as a failed operation. */
  def call[T](name: String, verify: Verify[T],
              notes: T => Seq[(String, Double)] = (_: T) => Seq.empty)
             (body: => T): Option[T] = {
    attempted += 1
    val span = tracer.map(_.open(round.fold(-1)(_.id), "call", name))
    val (w0, c0, g0) = (System.nanoTime, mx.getProcessCpuTime, gcMs)
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val (w1, c1, g1) = (System.nanoTime, mx.getProcessCpuTime, gcMs)
    span.foreach(s => tracer.foreach(_.close(s)))
    roundWall += w1 - w0; roundCpu += c1 - c0; roundGc += g1 - g0
    span.foreach { s =>
      s.add("wall_s", (w1 - w0) / 1e9)
      s.add("gc_s", (g1 - g0) / 1e3)
    }
    out match {
      case Left(e) =>
        failed += 1
        log(s"$name threw: $e")
        None
      case Right(v) =>
        val t = System.nanoTime
        val errs = verify.run(v)
        if (selfTest && errs.isEmpty) verify.perturbations.foreach { case (p, f) =>
          val rejected = verify.run(f(v), useCache = false)
          selfTestResults += ((name, p, rejected.nonEmpty))
          log(s"self-test $name / $p: " +
            (if (rejected.nonEmpty) s"rejected (${rejected.mkString("; ")})"
             else "NOT rejected"))
        }
        checkNanos += System.nanoTime - t
        span.foreach(s => notes(v).foreach { case (k, x) => s.add(k, x) })
        if (errs.nonEmpty) {
          failed += 1; wrong += 1
          log(s"$name output failed its check: ${errs.mkString("; ")}")
          None
        } else Some(v)
    }
  }

  /** A call that cannot run because an output it consumes failed. */
  def skip(name: String): None.type = {
    attempted += 1; failed += 1
    log(s"$name skipped: its input failed")
    None
  }
}

trait Workload {
  /** Input rows one round processes (design rows or documents). */
  def rowsPerRound: Long
  def round(ctx: Ctx): Unit
}

object Main {
  val Warmup = 1
  val MinTimedRounds = 2

  /** Every call the benchmark makes, as `<layer>.<call>`. */
  val Calls: Seq[String] = Seq(
    "ml.SgdNet.fit_gaussian", "ml.SgdNet.fit_binomial",
    "ml.SgdNet.fit_multinomial", "ml.CvSgdNet.fit", "ml.SgdNetModel.predict",
    "ml.LargeP.fitSparseBinomial", "ml.LargeP.fitSparseGaussian",
    "ml.SgdNetModel.predictSparse", "ops.TextAnalysis.gopherRules",
    "ops.Dedup.exact", "ops.Dedup.minhashLsh", "ops.Dedup.connectedComponents",
    "ops.Ann.ivfTopK", "ops.Curation.selectByBudget")
  val CallCounters: Seq[(String, String)] = Seq("wall_s" -> "s", "jobs" -> "count",
    "driver_s" -> "s", "task_cpu_s" -> "s", "shuffle_mb" -> "MB", "result_mb" -> "MB")
  val FitCalls: Seq[String] = Calls.filter(c => c.contains(".fit"))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val selfTest = opt.getOrElse("self-test", "0") == "1"
    val slots = opt("slots").toInt
    val work = opt("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.GraftSession.builder(Some(s"local[$slots]"), Some(slots))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(tracer, selfTest)
    val wl: Workload = workload match {
      case "glm" => new Glm(spark, opt("data"))
      case "corpus_curation" => new CorpusCuration(spark, opt("data"))
    }
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    var coldJitS = 0.0
    val warm = mutable.ArrayBuffer.empty[String]
    for (i <- 0 until (if (selfTest) 1 else Warmup)) {
      ctx.inRound(s"warmup $i")(wl.round(ctx))
      warm += f"${ctx.roundWall / 1e9}%.3f/${ctx.roundCpu / 1e9}%.2f"
      if (i == 0) coldJitS = (jit.getTotalCompilationTime - jit0) / 1e3
    }
    if (selfTest) {
      val r = ctx.selfTestResults
      val missed = r.count(!_._3)
      println(s"""{"correct": ${ctx.wrong == 0 && r.nonEmpty}, "attempted": ${r.size}, """ +
        s""""failed": $missed, "metrics": {}}""")
      spark.stop()
      return
    }
    val timedStart = System.currentTimeMillis
    val setupS = (timedStart - jvmStart) / 1e3 - ctx.checkNanos / 1e9
    val walls, cpus = mutable.ArrayBuffer.empty[Double]
    val gcs = mutable.ArrayBuffer.empty[Double]
    while (walls.size < MinTimedRounds ||
           System.currentTimeMillis - timedStart < seconds * 1000) {
      ctx.inRound(s"round ${walls.size}")(wl.round(ctx))
      walls += ctx.roundWall / 1e9
      cpus += ctx.roundCpu / 1e9
      gcs += ctx.roundGc / 1e3
    }
    val heapMb = heapAfterGcMb()
    val rssMb = vmHwmMb()

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("round_s", median(walls), "s"),
        ("rows_per_s", wl.rowsPerRound * walls.size / walls.sum, "rows/s"),
        ("cpu_s", median(cpus), "s"),
        ("peak_rss_mb", rssMb, "MB"),
        ("heap_after_gc_mb", heapMb, "MB"))
      case Some(t) =>
        val spans = t.finish()
        // call counters from the listener are complete only now
        val timedRounds = spans.filter(s => s.kind == "round" && s.name.startsWith("round "))
        val callsOf = spans.filter(_.kind == "call").groupBy(_.parent)
        val rows = timedRounds.map { r =>
          val cs = callsOf.getOrElse(r.id, Seq.empty)
          val m = cs.flatMap(c => c.counters.map { case (k, v) => s"${c.name}.$k" -> v }).toMap
          def sum(k: String) = cs.map(_.get(k)).sum
          m ++ Map("spark.round.jobs" -> sum("jobs"), "spark.round.stages" -> sum("stages"),
            "spark.round.tasks" -> sum("tasks"), "spark.round.sched_delay_s" -> sum("sched_delay_s"))
        }.zip(gcs).map { case (m, gc) => m + ("jvm.round.gc_s" -> gc) }
        def med(k: String) = median(rows.map(_.getOrElse(k, 0.0)))
        val perCall = for (c <- Calls; (k, u) <- CallCounters) yield (s"$c.$k", med(s"$c.$k"), u)
        val fits = FitCalls.flatMap(c => Seq((s"$c.passes", med(s"$c.passes"), "count"),
          (s"$c.passes_per_lambda", med(s"$c.passes_per_lambda"), "passes/lambda")))
        val extra = Seq(
          ("ops.Ann.ivfTopK.recall_at_k", med("ops.Ann.ivfTopK.recall_at_k"), "ratio"),
          ("spark.round.jobs", med("spark.round.jobs"), "count"),
          ("spark.round.stages", med("spark.round.stages"), "count"),
          ("spark.round.tasks", med("spark.round.tasks"), "count"),
          ("spark.round.sched_delay_s", med("spark.round.sched_delay_s"), "s"),
          ("jvm.round.gc_s", med("jvm.round.gc_s"), "s"),
          ("jvm.warmup.jit_s", coldJitS, "s"))
        writeTrace(opt("trace-out"), workload, slots, spans, walls, setupS)
        perCall ++ fits ++ extra
    }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    System.err.println(s"[graftbench] $workload: slots=$slots heap=" +
      s"${Runtime.getRuntime.maxMemory >> 20}MB warmup=${warm.mkString(",")} timed=${walls.size} " +
      s"rounds=${walls.map(w => f"$w%.3f").mkString(",")} cpu=${cpus.map(c => f"$c%.2f").mkString(",")} " +
      f"checks=${ctx.checkNanos / 1e9}%.1fs")
    println(s"""{"correct": ${ctx.wrong == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {${body.mkString(", ")}}}""")
    spark.stop()
  }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Live heap: the smallest used heap over five full GCs 200 ms apart.
    * Spark's ContextCleaner drops unreferenced RDD and broadcast blocks
    * asynchronously after a GC, so one GC can still see blocks that are
    * already dead. */
  private def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 5).map { _ =>
      System.gc(); Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Peak resident set (VmHWM) of this process. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  private def writeTrace(path: String, workload: String, slots: Int,
                         spans: Seq[Span], walls: collection.Seq[Double], setupS: Double): Unit = {
    def obj(s: Span) =
      s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": "${s.kind}", "name": "${s.name}", """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "counters": {""" +
        s.counters.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ") + "}}"
    val out = new java.io.PrintWriter(path)
    try out.print(s"""{"workload": "$workload", "slots": $slots, """ +
      s""""heap_mb": ${Runtime.getRuntime.maxMemory >> 20}, "warmup_rounds": $Warmup, """ +
      s""""round_s": [${walls.map(num).mkString(", ")}], "setup_s": ${num(setupS)}, """ +
      s""""spans": [\n${spans.map(obj).mkString(",\n")}\n]}""")
    finally out.close()
  }
}
