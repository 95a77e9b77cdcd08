package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a round, a call into a graft layer, or a Spark job that a
  * call ran. `parent` is the id of the span that caused it (-1 for a
  * round). */
final class Span(val id: Int, val parent: Int, val kind: String,
                 val name: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap.empty[String, Double]
  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def get(key: String): Double = synchronized(counters.getOrElse(key, 0.0))
}

/** Spans and per-layer counters for a traced run. The benchmark opens a
  * call span around each call into a layer and tags the call's Spark jobs
  * with a local property naming the span; this listener turns job and task
  * events into job spans under that call. Everything stays in memory until
  * [[finish]]. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val Property = "graftbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Int, Span]
  private val jobSpans = mutable.HashMap.empty[Int, Span]   // job id
  private val stageJob = mutable.HashMap.empty[Int, Span]   // stage id
  sc.addSparkListener(this)

  def open(parent: Int, kind: String, name: String): Span = synchronized {
    val s = new Span(spans.length, parent, kind, name, System.currentTimeMillis)
    spans += s
    byId(s.id) = s
    if (kind == "call") sc.setLocalProperty(Property, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endMs = System.currentTimeMillis
    if (s.kind == "call") sc.setLocalProperty(Property, null)
  }

  private def callOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Property)))
      .flatMap(id => synchronized(byId.get(id.toInt)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    callOf(e.properties).foreach { call =>
      synchronized {
        val j = new Span(spans.length, call.id, "job", s"job ${e.jobId}", e.time)
        spans += j
        byId(j.id) = j
        jobSpans(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobSpans.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stageJob.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      val i = e.taskInfo
      j.add("tasks", 1)
      if (m != null) {
        j.add("task_cpu_s", m.executorCpuTime / 1e9)
        j.add("shuffle_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        j.add("result_mb", m.resultSize / 1e6)
        // the Spark UI's scheduler delay: task time not spent running,
        // deserializing, serializing the result or fetching it
        val gettingResult =
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        j.add("sched_delay_s", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          gettingResult) / 1e3)
      }
    }

  /** Waits for every queued event, then rolls job counters up into their
    * call spans: `jobs`, the job counters, and `driver_s`, the call's wall
    * time that none of its jobs covers. */
  def finish(): Seq[Span] = {
    org.apache.spark.BenchAccess.drainListenerBus(sc)
    synchronized {
      val jobsOf = spans.filter(_.kind == "job").groupBy(_.parent)
      spans.filter(_.kind == "call").foreach { c =>
        val js = jobsOf.getOrElse(c.id, Seq.empty)
        c.add("jobs", js.size)
        for (j <- js; k <- Seq("stages", "tasks", "task_cpu_s", "shuffle_mb",
                                "result_mb", "sched_delay_s"))
          c.add(k, j.get(k))
        c.add("driver_s", (c.endMs - c.startMs -
          covered(c.startMs, c.endMs, js.map(j => (j.startMs, j.endMs)))) / 1e3)
      }
      spans.toSeq
    }
  }

  /** Milliseconds of [a, b] covered by the union of `intervals`. */
  private def covered(a: Long, b: Long, intervals: collection.Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    reach = a
    intervals.map { case (s, e) => (math.max(s, a), math.min(if (e < 0) b else e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }
}
