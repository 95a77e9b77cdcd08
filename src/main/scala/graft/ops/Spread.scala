package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}

import scala.reflect.ClassTag

/** Thin-input spreading — the [[Dedup.corpusSketch]] pattern hoisted to
  * a shared helper (optimization round 18).
  *
  * A stage with no upstream shuffle inherits the INPUT FILE
  * partitioning as its parallelism. A small corpus written as one
  * parquet file with one row group is unsplittable, so every scan-fed
  * kernel, projection and treeAggregate pass runs ONE-core regardless
  * of cluster size (guide §2.5 "input skew: one huge unsplittable
  * file ... repartition immediately after the read"). Spreading such
  * inputs to the session's default parallelism costs one exchange of a
  * provably small frame and parallelizes everything downstream.
  *
  * Scale safety: the spread is gated on the optimizer's plan-stats
  * size estimate (raw scan bytes for parquet scans). Anything above
  * `maxBytes` (default 1 GiB) passes through UNTOUCHED — at 100 TB the
  * scan has thousands of splits already and this helper is a no-op; it
  * never plans or executes the frame to decide. The estimate
  * overshoots after selective filters (no CBO), which only means a
  * small input is conservatively NOT spread — never the reverse.
  *
  * Semantics: round-robin repartition is deterministic under Spark's
  * sort-before-repartition (on by default since SPARK-23207), per-row
  * kernels are row-order-free, and every downstream aggregate in this
  * library is either integral or carries the documented last-ulp
  * double-sum wobble the oracles already tolerate (treeAggregate merge
  * order is task-completion-order nondeterministic with or without
  * this helper).
  */
private[graft] object Spread {

  /** Spread `df` to `target` partitions (default: the session's
    * default parallelism) when its plan-stats size estimate is at most
    * `maxBytes`; identity otherwise.
    *
    * Placement matters: a blanket spread at the table-read helper was
    * measured NET-NEGATIVE (the exchange + wide stages cost more than
    * parallelism buys on sub-second aggregation queries), so this is
    * applied only at kernel entries whose single-threaded CPU cost
    * dominates their query (md5 signature loops, per-doc repetition
    * scans, window-explode chains). */
  def thin(df: DataFrame, maxBytes: Long = 1L << 30,
           target: Int = 0): DataFrame = {
    val par =
      if (target > 0) target
      else df.sparkSession.sparkContext.defaultParallelism
    if (smallByStats(df, maxBytes) && par > 1) df.repartition(par) else df
  }

  /** True when the optimizer's plan-stats size estimate says `df` is at
    * most `maxBytes` — the same free (never plans a job) and
    * conservative (post-filter estimates only overshoot) gate
    * [[thin]] uses, exposed for driver-cutover pregates: an operator
    * whose bounded-collect gate would otherwise cost an extra
    * aggregation pass at scale checks this first, so a 100 TB input
    * skips the gate work entirely. */
  def smallByStats(df: DataFrame, maxBytes: Long = 1L << 30): Boolean =
    try df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes
    catch { case scala.util.control.NonFatal(_) => false }

  /** The raw-tier gate of the driver cutovers: every row of `ds` when
    * the free [[smallByStats]] pregate (`maxBytes`) passes and `ds`
    * holds at most `maxRows` rows, else None. ONE scan, which never
    * counts first: each partition returns at most `maxRows + 1` rows, so
    * an input above the bound shows itself in the same job (and the
    * pregate bounds what that job can ship). Not `limit(n).collect()`:
    * Spark's incremental take may run several jobs. */
  def collectAtMost[T: ClassTag](ds: Dataset[T], maxRows: Long,
                                 maxBytes: Long = 128L << 20): Option[Array[T]] =
    if (!smallByStats(ds.toDF(), maxBytes)) None
    else {
      val cap = math.min(maxRows, Int.MaxValue - 1L).toInt + 1
      val rows = ds.rdd.mapPartitions(_.take(cap)).collect()
      if (rows.length > maxRows) None else Some(rows)
    }
}
