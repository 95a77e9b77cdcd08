package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev measurement harness (optimization rounds): run ONE declared query
  * and print its empirical execution profile — wall time per rep, Spark
  * job count, stage count, task count, cumulative task time, shuffle
  * bytes — the numbers the Spark UI would show, as one summary line
  * (the UI is disabled in every driver-contract main).
  *
  * Usage:
  *   sbt "runMain graft.Probe q_name[,q_name2,...] [sfDir] [reps]"
  *
  * Reads SPARK_GRAFT_CPUS like the contract mains (default 32 here:
  * probing is about the bench configuration).
  *
  * Optional machine-readable evidence: with SPARK_GRAFT_PROBE_OUT=<suffix>
  * each query's reps are written as one JSON object to
  * `<dir>/<query>_probe_<suffix>.json`, where `<dir>` is
  * SPARK_GRAFT_PROBE_DIR (default `plans/probe`, relative to the
  * working directory).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    @volatile var shufWrite = 0L
    @volatile var shufRead = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        val si = s.stageInfo
        shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val probeOut = sys.env.get("SPARK_GRAFT_PROBE_OUT")
    val probeDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR", "plans/probe")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val repJson = new StringBuilder
      for (rep <- 1 to reps) {
        jobs = 0; stages = 0; tasks = 0; taskMs = 0L
        shufWrite = 0L; shufRead = 0L
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        // listener events are async; give the bus a moment to drain
        Thread.sleep(400)
        println(f"PROBE $name%-28s rep=$rep wall=$wall%7.3f jobs=$jobs%4d " +
          f"stages=$stages%4d tasks=$tasks%5d taskSec=${taskMs / 1e3}%8.2f " +
          f"shufW=${shufWrite / 1e6}%8.2fMB shufR=${shufRead / 1e6}%8.2fMB")
        if (repJson.nonEmpty) repJson.append(",")
        repJson.append(f"""{"rep":$rep,"wall_sec":$wall%.3f,"jobs":$jobs,""" +
          f""""stages":$stages,"tasks":$tasks,"task_sec":${taskMs / 1e3}%.2f,""" +
          f""""shuffle_write_mb":${shufWrite / 1e6}%.2f,""" +
          f""""shuffle_read_mb":${shufRead / 1e6}%.2f}""")
      }
      probeOut.foreach { suffix =>
        val dir = java.nio.file.Paths.get(probeDir)
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.write(dir.resolve(s"${name}_probe_$suffix.json"),
          (s"""{"query":"$name","sf":"$sfDir","cpus":$cpus,""" +
           s""""reps":[${repJson.toString}]}""" + "\n").getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
