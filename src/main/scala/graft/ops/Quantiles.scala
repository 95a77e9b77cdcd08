package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution quantiles of a numeric column as a (q, value) frame.
  *
  * Execution strategies with the same output shape:
  *
  * - [[exactScale]] — exact interpolated quantiles via the two-pass
  *   range-partitioned rank: no task buffers the column, state is
  *   bounded at any row count AND any value cardinality. The 100 TB
  *   exact path.
  * - [[approx]] — `approx_percentile` (Greenwald–Khanna sketch). THE
  *   100 TB path: aggregation state is bounded by `accuracy`, not row
  *   count, with rank error <= n/accuracy; partial sketches merge
  *   map-side like any algebraic aggregate. While n <= accuracy the
  *   sketch is rank-EXACT and returns the discrete quantile — the same
  *   order statistic DuckDB `quantile_disc` picks (verified
  *   empirically), which is how the small-sf oracle checks this
  *   operator bit-exactly.
  * - [[exact]] — Spark `percentile`, linear interpolation (DuckDB
  *   `quantile_cont` semantics). Buffers every value in the aggregation
  *   state: correctness anchor for small data, NOT for 100 TB use.
  */
object Quantiles {

  private def unpack(df: DataFrame, agg: org.apache.spark.sql.Column,
                     probs: Seq[Double]): DataFrame =
    df.agg(agg.as("qs"))
      .select(posexplode(col("qs")).as(Seq("i", "v")))
      .select(element_at(typedlit(probs), col("i") + 1).as("q"),
        col("v").cast("double").as("value"))

  /** Exact interpolated quantiles (per-group state = all values). */
  def exact(df: DataFrame, valueCol: String, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1))
    unpack(df, percentile(col(valueCol), typedlit(probs)), probs)
  }

  /** Sketch-based quantiles with bounded state (the scale path).
    * @param accuracy rank error bound n/accuracy; memory ~ O(accuracy).
    *        10^4 (the Spark default) keeps state in KBs at any n. */
  def approx(df: DataFrame, valueCol: String, probs: Seq[Double],
             accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1))
    require(accuracy > 0, "accuracy must be positive")
    unpack(df,
      percentile_approx(col(valueCol), typedlit(probs), lit(accuracy)), probs)
  }

  /** EXACT interpolated quantiles with BOUNDED state at ANY value
    * cardinality — the 100 TB form of [[exact]] (whose `percentile`
    * aggregate buffers every value in ONE aggregation state, i.e. one
    * task holds the full column). The [[graft.ml.SgdNetModel.aucOf]]
    * two-pass range-partitioned rank discipline, ungrouped case:
    *
    *  1. aggregate rows to (value, count) per DISTINCT value — one
    *     map-side-combined shuffle;
    *  2. RANGE-partition the distinct-value table by value and sort
    *     within partitions (a distributed sort — each partition holds a
    *     contiguous value range, no partition sees the whole column);
    *  3. pass one: per-partition count totals (a P-row driver collect)
    *     → global prefix offsets + total n;
    *  4. pass two: each partition scans its range once and emits the
    *     order statistics whose global rank it covers — exactly the two
    *     bracketing ranks ⌊h⌋+1, ⌊h⌋+2 per requested quantile, h =
    *     q·(n−1), interpolated on the driver with the same linear rule
    *     as `percentile`/`quantile_cont`.
    *
    * Integer-exact: ranks are long sums, so the partitioned prefix
    * offsets equal a sequential scan bit-for-bit; the selected order
    * statistics — and hence the interpolated result — are identical to
    * [[exact]]. */
  def exactScale(df: DataFrame, valueCol: String,
                 probs: Seq[Double],
                 maxLocalCells: Long = 1L << 16,
                 maxLocalRows: Long = 1L << 22): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1))
    val spark = df.sparkSession
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"))
    // Raw bounded collect (optimization round 19, the spearman raw
    // tier): for CONTINUOUS value columns the distinct-value aggregate
    // below shuffles ~n cells to deduplicate little, then pays the RDD
    // cache + range-partition chain. Below an explicit ROW bound —
    // one bounded scan behind the free plan-stats pregate, so a 100 TB
    // input pays no scan — the bracketing order statistics come straight off a
    // primitively SORTED raw array: rank r (1-indexed over the
    // cumulative distinct-value counts) is sorted(r−1) by definition,
    // and the closing interpolation expression is shared —
    // bit-identical output.
    import spark.implicits._
    val rawTier = Spread.collectAtMost(vals.as[Double], maxLocalRows)
    if (rawTier.isDefined) {
      val raw = rawTier.get
      val n = raw.length.toLong
      require(n > 0, s"no non-null values in $valueCol")
      val sorted = new Array[Double](raw.length)
      var i = 0
      while (i < raw.length) {
        val x = raw(i)
        sorted(i) = if (x == 0.0) 0.0 else x // -0.0 like grouping
        i += 1
      }
      java.util.Arrays.sort(sorted)
      return probs.map { q =>
        val h = q * (n - 1); val lo = math.floor(h).toLong
        val vlo = sorted(lo.toInt)
        val vhi = sorted((math.min(lo + 2, n) - 1).toInt)
        (q, vlo + (h - lo) * (vhi - vlo))
      }.toDF("q", "value")
    }
    val perValue0 = vals
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    // Bounded small-side fast path (optimization round 18): the rank
    // scan runs over the DISTINCT-value aggregation, which for
    // integer/decimal-grained data is tiny even when the corpus is
    // not. The aggregate output is cached ONCE at RDD level (row
    // objects — a DataFrame-level persist was tried and REVERTED: it
    // pins the exchange at full shuffle parallelism, AQE may not
    // re-optimize under a cache, and the columnar cache build measured
    // 2-4x slower); the cardinality gate, the driver fast path AND the
    // distributed scan all read that one cache, so neither side ever
    // recomputes the aggregation (the earlier collect-gate variants
    // paid a wasted pass when the gate said "too big"). Below the cell
    // bound the bracketing order statistics are selected on the
    // driver; above it, the cached cells are range-partitioned with
    // RangePartitioner (boundaries don't affect the prefix algebra)
    // and the two-pass scan below is unchanged. Selection and
    // interpolation are the same integer ranks and the same double
    // expression on both sides — bit-identical.
    val cellsRdd = perValue0.rdd
      .map(r => (r.getDouble(0), r.getLong(1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    if (cellsRdd.count() <= maxLocalCells) {
      val cells = cellsRdd.collect().sortBy(_._1)
      val n = cells.iterator.map(_._2).sum
      require(n > 0, s"no non-null values in $valueCol")
      val wanted = probs.flatMap { q =>
        val lo = math.floor(q * (n - 1)).toLong
        Seq(lo + 1, math.min(lo + 2, n))
      }.distinct.sorted.toArray
      val stats = scala.collection.mutable.HashMap.empty[Long, Double]
      var cum = 0L
      cells.foreach { case (v, cnt) =>
        val lo = cum; cum += cnt
        var k = java.util.Arrays.binarySearch(wanted, lo + 1)
        if (k < 0) k = -k - 1
        while (k < wanted.length && wanted(k) <= cum) {
          stats(wanted(k)) = v; k += 1
        }
      }
      import spark.implicits._
      return probs.map { q =>
        val h = q * (n - 1); val lo = math.floor(h).toLong
        val vlo = stats(lo + 1)
        val vhi = stats(math.min(lo + 2, n))
        (q, vlo + (h - lo) * (vhi - vlo))
      }.toDF("q", "value")
    }
    val rdd = cellsRdd.repartitionAndSortWithinPartitions(
      new org.apache.spark.RangePartitioner(
        math.max(1, spark.sparkContext.defaultParallelism), cellsRdd))
      val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
        var c = 0L; it.foreach(c += _._2); Iterator((i, c))
      }.collect().sortBy(_._1)
      val n = partTotals.map(_._2).sum
      require(n > 0, s"no non-null values in $valueCol")
      val offsets = new Array[Long](math.max(rdd.getNumPartitions, 1))
      var acc = 0L
      partTotals.foreach { case (i, c) => offsets(i) = acc; acc += c }
      // bracketing 1-indexed ranks per quantile: ⌊h⌋+1 and ⌊h⌋+2 (clamped)
      val wanted = probs.flatMap { q =>
        val lo = math.floor(q * (n - 1)).toLong
        Seq(lo + 1, math.min(lo + 2, n))
      }.distinct.sorted.toArray
      val bcOff = rdd.sparkContext.broadcast(offsets)
      val bcWanted = rdd.sparkContext.broadcast(wanted)
      val stats: Map[Long, Double] = rdd.mapPartitionsWithIndex { (i, it) =>
        var cum = bcOff.value(i)
        val ws = bcWanted.value
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        it.foreach { case (v, cnt) =>
          val lo = cum; cum += cnt
          var j = java.util.Arrays.binarySearch(ws, lo + 1)
          if (j < 0) j = -j - 1
          while (j < ws.length && ws(j) <= cum) { out += ((ws(j), v)); j += 1 }
        }
        out.iterator
      }.collect().toMap
      import spark.implicits._
      probs.map { q =>
        val h = q * (n - 1); val lo = math.floor(h).toLong
        val vlo = stats(lo + 1)
        val vhi = stats(math.min(lo + 2, n))
        (q, vlo + (h - lo) * (vhi - vlo))
      }.toDF("q", "value")
    } finally cellsRdd.unpersist(blocking = false)
  }

  /** WEIGHTED exact quantiles with bounded state — "the price the
    * median UNIT sold at", "the doc length the median TOKEN lives
    * in": every row counts with its integer weight, not once. Same
    * two-pass range-partitioned distinct-value scan as [[exactScale]]
    * with weight sums in place of row counts; the quantile contract
    * is the weighted LOWER quantile (smallest value whose cumulative
    * weight reaches ⌈p‰·W/1000⌉ — integral, no interpolation, so the
    * partitioned scan equals a sequential one bit-for-bit and the
    * oracle is a window cumsum). Probabilities arrive as per-mille
    * integers to keep the target ranks exact. Returns
    * (p_permille, t_rank, total_weight, value). */
  def weightedExactScale(df: DataFrame, valueCol: String,
                         weightCol: String,
                         permille: Seq[Int],
                         maxLocalCells: Long = 1L << 16,
                         maxLocalRows: Long = 1L << 22): DataFrame = {
    require(permille.nonEmpty && permille.forall(p => p >= 1 && p <= 1000),
      "permille targets must be in [1, 1000]")
    val spark = df.sparkSession
    val pairs = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull
        && col(weightCol) > 0)
      .select(col(valueCol).cast("double").as("__v"),
        col(weightCol).cast("long").as("__w"))
    // raw bounded collect (round 19 — the [[exactScale]] raw tier):
    // distinct values + per-value weight sums folded on primitive
    // arrays (sorted copy → binary-search accumulation), then the
    // identical value-ordered target walk — bit-identical selection
    import spark.implicits._
    val rawTier = Spread.collectAtMost(pairs.as[(Double, Long)], maxLocalRows)
    if (rawTier.isDefined) {
      val raw = rawTier.get
      val m = raw.length
      val va = new Array[Double](m)
      var i = 0
      while (i < m) {
        val x = raw(i)._1
        va(i) = if (x == 0.0) 0.0 else x
        i += 1
      }
      val sorted = va.clone()
      java.util.Arrays.sort(sorted)
      val dv = new Array[Double](m)
      var nd = 0; var p0 = 0
      while (p0 < m) {
        var q = p0
        while (q < m && Stats.sameRankValue(sorted(q), sorted(p0))) q += 1
        dv(nd) = sorted(p0); nd += 1; p0 = q
      }
      val wV = new Array[Long](nd)
      i = 0
      while (i < m) {
        wV(java.util.Arrays.binarySearch(dv, 0, nd, va(i))) += raw(i)._2
        i += 1
      }
      var w = 0L
      i = 0
      while (i < nd) { w += wV(i); i += 1 }
      require(w > 0, s"no positive weight in $weightCol")
      val targets = permille.map(pm => (pm.toLong * w + 999L) / 1000L)
        .distinct.sorted.toArray
      val hit = scala.collection.mutable.HashMap.empty[Long, Double]
      var cum = 0L
      i = 0
      while (i < nd) {
        val lo = cum; cum += wV(i)
        var j = java.util.Arrays.binarySearch(targets, lo + 1)
        if (j < 0) j = -j - 1
        while (j < targets.length && targets(j) <= cum) {
          hit(targets(j)) = dv(i); j += 1
        }
        i += 1
      }
      return permille.map { pm =>
        val t = (pm.toLong * w + 999L) / 1000L
        (pm.toLong, t, w, hit(t))
      }.toDF("p_permille", "t_rank", "total_weight", "value")
    }
    val perValue = pairs
      .groupBy(col("__v"))
      .agg(sum(col("__w")).as("__w"))
    // bounded driver cutover over the shared RDD-cached distinct-value
    // aggregate — the [[exactScale]] rationale verbatim (integral
    // target ranks, LOWER quantile selection: both paths walk the same
    // value order)
    val cellsRdd = perValue.rdd
      .map(r => (r.getDouble(0), r.getLong(1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    if (cellsRdd.count() <= maxLocalCells) {
      val cells = cellsRdd.collect().sortBy(_._1)
      val w = cells.iterator.map(_._2).sum
      require(w > 0, s"no positive weight in $weightCol")
      val targets = permille.map(pm => (pm.toLong * w + 999L) / 1000L)
        .distinct.sorted.toArray
      val hit = scala.collection.mutable.HashMap.empty[Long, Double]
      var cum = 0L
      cells.foreach { case (v, wt) =>
        val lo = cum; cum += wt
        var j = java.util.Arrays.binarySearch(targets, lo + 1)
        if (j < 0) j = -j - 1
        while (j < targets.length && targets(j) <= cum) {
          hit(targets(j)) = v; j += 1
        }
      }
      import spark.implicits._
      return permille.map { pm =>
        val t = (pm.toLong * w + 999L) / 1000L
        (pm.toLong, t, w, hit(t))
      }.toDF("p_permille", "t_rank", "total_weight", "value")
    }
    val rdd = cellsRdd.repartitionAndSortWithinPartitions(
      new org.apache.spark.RangePartitioner(
        math.max(1, spark.sparkContext.defaultParallelism), cellsRdd))
      val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
        var c = 0L; it.foreach(c += _._2); Iterator((i, c))
      }.collect().sortBy(_._1)
      val w = partTotals.map(_._2).sum
      require(w > 0, s"no positive weight in $weightCol")
      val offsets = new Array[Long](math.max(rdd.getNumPartitions, 1))
      var acc = 0L
      partTotals.foreach { case (i, c) => offsets(i) = acc; acc += c }
      // integral target ranks: ceil(pm * W / 1000)
      val targets = permille.map(pm => (pm.toLong * w + 999L) / 1000L)
        .distinct.sorted.toArray
      val bcOff = rdd.sparkContext.broadcast(offsets)
      val bcT = rdd.sparkContext.broadcast(targets)
      val hit: Map[Long, Double] = rdd.mapPartitionsWithIndex { (i, it) =>
        var cum = bcOff.value(i)
        val ts = bcT.value
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        it.foreach { case (v, wt) =>
          val lo = cum; cum += wt
          var j = java.util.Arrays.binarySearch(ts, lo + 1)
          if (j < 0) j = -j - 1
          while (j < ts.length && ts(j) <= cum) { out += ((ts(j), v)); j += 1 }
        }
        out.iterator
      }.collect().toMap
      import spark.implicits._
      permille.map { pm =>
        val t = (pm.toLong * w + 999L) / 1000L
        (pm.toLong, t, w, hit(t))
      }.toDF("p_permille", "t_rank", "total_weight", "value")
    } finally cellsRdd.unpersist(blocking = false)
  }

  /** Exact interpolated quantiles PER GROUP — the p50/p95/p99-by-
    * segment report. One aggregation; per-group state buffers that
    * group's values (the [[exact]] caveat per group — the correctness
    * anchor; swap `percentile` for `percentile_approx` at 100 TB, or
    * use the distinct-value prefix-sum machinery of
    * [[Analytics.madOutliers]] when values are integer-valued). */
  def exactByGroup(df: DataFrame, groupCol: String, valueCol: String,
                   probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1))
    df.groupBy(col(groupCol))
      .agg(percentile(col(valueCol), typedlit(probs)).as("qs"))
      .select(col(groupCol), posexplode(col("qs")).as(Seq("i", "v")))
      .select(col(groupCol),
        element_at(typedlit(probs), col("i") + 1).as("q"),
        col("v").cast("double").as("value"))
  }

  /** Rows grouped on their first column the way Spark's aggregation
    * keys groups: -0.0 joins 0.0 and every NaN is one group. A java map,
    * because its boxed-Double equals holds for NaN where Scala's == does
    * not; groups keep first-seen order. */
  private def groupRows[V](rows: Array[org.apache.spark.sql.Row])(
      value: org.apache.spark.sql.Row => V)
      : java.util.LinkedHashMap[Any, scala.collection.mutable.ArrayBuffer[V]] = {
    val byG = new java.util.LinkedHashMap[Any,
      scala.collection.mutable.ArrayBuffer[V]]()
    rows.foreach { r =>
      val key = r.get(0) match {
        case d: Double => if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
        case f: Float => if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
        case k => k
      }
      byG.computeIfAbsent(key,
        _ => scala.collection.mutable.ArrayBuffer.empty[V]) += value(r)
    }
    byG
  }

  /** EXACT interpolated grouped quantiles with BOUNDED aggregation
    * state — the 100 TB twin of [[exactByGroup]] (whose `percentile`
    * aggregate buffers every row value per group). The
    * [[Analytics.madOutliers]] distinct-value prefix-sum discipline:
    * rows first collapse to (group, value)-distinct counts (one
    * partial-aggregated shuffle, state bounded by VALUE CARDINALITY,
    * not row count); cumulative counts over the distinct values locate
    * the two bracketing order statistics per requested quantile (the
    * rank window runs over distinct values per group — bounded the
    * same way); one conditional min-aggregation interpolates. Same
    * linear-interpolation semantics as `percentile`/`quantile_cont`:
    * h = q·(n−1), value = v_lo + (h − ⌊h⌋)·(v_hi − v_lo). For
    * unbounded-cardinality continuous doubles, pre-quantize or use
    * [[approx]]; on integer/decimal-grained data (prices, counts,
    * durations) this path is exact at any scale. */
  def exactByGroupScale(df: DataFrame, groupCol: String, valueCol: String,
                        probs: Seq[Double],
                        maxLocalCells: Long = 1L << 16,
                        maxLocalRows: Long = 1L << 22): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1))
    val spark = df.sparkSession
    val gv = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast("double").as("__v"))
    // raw bounded collect (round 19 — the [[exactScale]] raw tier, per
    // group): per-group primitive sort, direct order statistics, the
    // shared interpolation expression — bit-identical rows
    val rawTier = Spread.collectAtMost(gv, maxLocalRows)
    if (rawTier.isDefined) {
      val raw = rawTier.get
      val byG = groupRows(raw) { r =>
        val x = r.getDouble(1)
        if (x == 0.0) 0.0 else x
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      byG.forEach { (g, buf) =>
        val sorted = buf.toArray
        java.util.Arrays.sort(sorted)
        val n = sorted.length.toLong
        var i = 0
        while (i < probs.length) {
          val q = probs(i); val h = q * (n - 1); val lo = math.floor(h)
          val vlo = sorted(lo.toInt)
          val vh = sorted((math.min(lo.toLong + 2, n) - 1).toInt)
          out += org.apache.spark.sql.Row(g, q, vlo + (h - lo) * (vh - vlo))
          i += 1
        }
      }
      import scala.jdk.CollectionConverters._
      return spark.createDataFrame(out.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          gv.schema.fields(0),
          org.apache.spark.sql.types.StructField("q",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType, nullable = true))))
    }
    val vc = gv
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    // bounded driver cutover over the RDD-cached distinct (group,
    // value) cells — the [[exactScale]] rationale; the window +
    // explode + conditional min-aggregation chain below collapses to
    // one collect + the same double interpolation expression per
    // (group, prob); above the bound the window chain rebuilds from
    // the same cache, so the aggregation runs exactly once either way
    // persisted, not unpersisted on the distributed branch: the
    // returned lazy frame still reads it (the Ranking.globalRank
    // idiom; RDD persists are reference-tracked and GC-freed)
    val cellsRdd = vc.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (cellsRdd.count() <= maxLocalCells) {
      val rows = cellsRdd.collect()
      cellsRdd.unpersist(blocking = false)
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val byG = groupRows(rows)(r => (r.getDouble(1), r.getLong(2)))
      byG.forEach { (g, buf) =>
        val cells = buf.toArray.sortBy(_._1)
        var n = 0L
        cells.foreach(n += _._2)
        // one walk per group: the bracketing ranks ⌊h⌋+1 / ⌊h⌋+2 of all
        // probs are collected up front (the exactScale `wanted` array)
        val hs = probs.map(q => q * (n - 1)).toArray
        val wanted = hs.flatMap { h =>
          val lo = math.floor(h).toLong
          Seq(lo + 1, math.min(lo + 2, n))
        }.distinct.sorted
        val hit = scala.collection.mutable.HashMap.empty[Long, Double]
        var cum = 0L
        cells.foreach { case (v, c) =>
          val lo = cum; cum += c
          var j = java.util.Arrays.binarySearch(wanted, lo + 1)
          if (j < 0) j = -j - 1
          while (j < wanted.length && wanted(j) <= cum) {
            hit(wanted(j)) = v; j += 1
          }
        }
        var i = 0
        while (i < probs.length) {
          val q = probs(i); val h = hs(i); val lo = math.floor(h)
          val vlo = hit(lo.toLong + 1)
          val vh = hit(math.min(lo.toLong + 2, n))
          out += org.apache.spark.sql.Row(g, q, vlo + (h - lo) * (vh - vlo))
          i += 1
        }
      }
      import scala.jdk.CollectionConverters._
      return spark.createDataFrame(out.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          vc.schema.fields(0),
          org.apache.spark.sql.types.StructField("q",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType, nullable = true))))
    }
    val vcc = spark.createDataFrame(cellsRdd, vc.schema)
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
    val wg = Window.partitionBy(col(groupCol))
    val cum = vcc
      .withColumn("__cum", sum(col("__cnt")).over(w))
      .withColumn("__n", sum(col("__cnt")).over(wg))
    // h and lo are constant within (group, q): they depend only on n
    val pq = cum.select(col(groupCol), col("__v"), col("__cum"), col("__n"),
        posexplode(typedlit(probs)).as(Seq("__i", "q")))
      .withColumn("__h", col("q") * (col("__n") - 1))
      .withColumn("__lo", floor(col("__h")))
    pq.groupBy(col(groupCol), col("q"))
      .agg(
        min(when(col("__cum") >= col("__lo") + 1, col("__v"))).as("__vlo"),
        min(when(col("__cum") >= col("__lo") + 2, col("__v"))).as("__vhi"),
        first(col("__h")).as("__hh"), first(col("__lo")).as("__ll"))
      .select(col(groupCol), col("q"),
        (col("__vlo") + (col("__hh") - col("__ll")) *
          (coalesce(col("__vhi"), col("__vlo")) - col("__vlo"))).as("value"))
  }
}
