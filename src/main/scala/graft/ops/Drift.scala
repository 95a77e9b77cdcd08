package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Distribution-drift detection between two corpus slices (new crawl vs
  * old, one source vs another) — the monitoring primitive a training-data
  * pipeline runs before mixing sources.
  *
  * The two-sample Kolmogorov-Smirnov statistic needs the maximum ECDF
  * gap over the merged sample — a global sorted scan. Like
  * `SgdNetModel.aucOf`, it runs as a TWO-PASS range-partitioned rank
  * instead of a single-partition window: (1) aggregate to distinct
  * values with per-side counts (bounds the sorted data at the distinct
  * cardinality), range-partition by value; (2) per-partition totals
  * broadcast back as prefix offsets, then one partition-local scan takes
  * the running ECDF gap maximum. No stage ever sees more than its range
  * slice — the shape survives any row count.
  */
object Drift {

  /** KS statistic D = sup_x |F_a(x) - F_b(x)| between `valueCol` in `a`
    * and in `b`, plus the two sample sizes. Exact (no binning): ECDFs
    * are evaluated at every distinct value. */
  def ksStatistic(a: DataFrame, b: DataFrame, valueCol: String,
                  maxLocalCells: Long = 1L << 16,
                  maxLocalRows: Long = 1L << 22): (Double, Long, Long) = {
    val tagged = a.select(col(valueCol).cast("double").as("v"), lit(1).as("g"))
      .unionAll(b.select(col(valueCol).cast("double").as("v"), lit(0).as("g")))
      .filter(col("v").isNotNull)
    // Raw bounded collect (optimization round 19, the spearman raw
    // tier): for CONTINUOUS value columns the distinct-value aggregate
    // below shuffles ~n cells to deduplicate little and then pays the
    // RDD cache + range-partition machinery (probe: q_ks_drift
    // taskSec 14-50 for a 10 MB input). Below an explicit ROW bound —
    // one bounded scan behind the free plan-stats pregate, so a 100 TB
    // union pays no scan — collect the raw (v, tag) pairs and fold the SAME
    // per-distinct-value (ca, cb) walk on primitive arrays: sorted
    // copy → distinct values → per-row binary-search accumulation →
    // the identical value-ordered gap scan. Counts are the same exact
    // integers-in-doubles; expressions shared — bit-identical D.
    val spark = tagged.sparkSession
    import spark.implicits._
    val rawTier = Spread.collectAtMost(tagged.as[(Double, Int)], maxLocalRows)
    if (rawTier.isDefined) {
      val raw = rawTier.get
      val m = raw.length
      val va = new Array[Double](m)
      var i = 0
      while (i < m) {
        val x = raw(i)._1
        va(i) = if (x == 0.0) 0.0 else x // -0.0 like grouping semantics
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
      val caV = new Array[Double](nd); val cbV = new Array[Double](nd)
      i = 0
      while (i < m) {
        val k = java.util.Arrays.binarySearch(dv, 0, nd, va(i))
        if (raw(i)._2 == 1) caV(k) += 1.0 else cbV(k) += 1.0
        i += 1
      }
      var na = 0.0; var nb = 0.0
      i = 0
      while (i < nd) { na += caV(i); nb += cbV(i); i += 1 }
      require(na > 0 && nb > 0, "both samples must be non-empty")
      var ca = 0.0; var cb = 0.0; var best = 0.0
      i = 0
      while (i < nd) {
        ca += caV(i); cb += cbV(i)
        val gap = math.abs(ca / na - cb / nb)
        if (gap > best) best = gap
        i += 1
      }
      return (best, na.toLong, nb.toLong)
    }
    val perValue0 = tagged.groupBy(col("v"))
      .agg(sum(col("g")).cast("double").as("ca"),
        sum(lit(1) - col("g")).cast("double").as("cb"))
    // Bounded driver cutover over the RDD-cached distinct-value
    // aggregate (optimization round 18): the aggregate output is
    // cached ONCE at RDD level (a DataFrame-level persist pins the
    // exchange at full shuffle parallelism and pays a columnar cache
    // build — probe-measured 2-4x worse); the cardinality gate, the
    // driver fast path and the distributed two-pass scan all read that
    // one cache, so neither side ever recomputes the aggregation.
    // Below the cell bound: same value-ordered walk, same exact
    // integer-in-double sums — bit-identical result. Above it:
    // RangePartitioner over the cached cells (boundaries don't affect
    // the prefix algebra) and the unchanged two passes.
    // Double sums here are EXACT, not approximate: ca/cb are integer
    // counts, and IEEE doubles represent every integer below 2^53
    // exactly (same argument as SgdNetModel.aucOf) — do not "fix" this
    // to floats or to a lossy accumulator.
    val cellsRdd = perValue0.rdd
      .map(r => (r.getDouble(0), (r.getDouble(1), r.getDouble(2))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cellsRdd.count() <= maxLocalCells) {
        val cells = cellsRdd.collect().sortBy(_._1)
        var na = 0.0; var nb = 0.0
        cells.foreach { c => na += c._2._1; nb += c._2._2 }
        require(na > 0 && nb > 0, "both samples must be non-empty")
        var ca = 0.0; var cb = 0.0; var best = 0.0
        cells.foreach { case (_, (xa, xb)) =>
          ca += xa; cb += xb
          val gap = math.abs(ca / na - cb / nb)
          if (gap > best) best = gap
        }
        return (best, na.toLong, nb.toLong)
      }
      val rdd = cellsRdd.repartitionAndSortWithinPartitions(
        new org.apache.spark.RangePartitioner(
          math.max(1, cellsRdd.sparkContext.defaultParallelism), cellsRdd))
        .map(_._2)
      val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
        var x = 0.0; var y = 0.0
        it.foreach { case (ca, cb) => x += ca; y += cb }
        Iterator((i, x, y))
      }.collect().sortBy(_._1)
      val na = partTotals.map(_._2).sum
      val nb = partTotals.map(_._3).sum
      require(na > 0 && nb > 0, "both samples must be non-empty")
      val offs = new Array[(Double, Double)](math.max(rdd.getNumPartitions, 1))
      var accA = 0.0; var accB = 0.0
      partTotals.foreach { case (i, x, y) => offs(i) = (accA, accB); accA += x; accB += y }
      val bcOff = rdd.sparkContext.broadcast(offs)
      val d = rdd.mapPartitionsWithIndex { (i, it) =>
        var (ca, cb) = bcOff.value(i)
        var best = 0.0
        it.foreach { case (xa, xb) =>
          ca += xa; cb += xb
          val gap = math.abs(ca / na - cb / nb)
          if (gap > best) best = gap
        }
        Iterator(best)
      }.fold(0.0)(math.max)
      (d, na.toLong, nb.toLong)
    } finally cellsRdd.unpersist(blocking = false)
  }

  /** Two-sample Cramér–von Mises criterion (Anderson 1962 functional):
    * T = n·m/(n+m)² · Σ over all pooled observations of
    * (F_n(x) − G_m(x))² — the integrated-squared-gap companion to
    * [[ksStatistic]]'s max-gap: KS sees one large local deviation, CvM
    * sees many small ones (a distribution that drifts EVERYWHERE a
    * little). Same two-pass range-partitioned distinct-value prefix
    * scan as KS; the per-value gap numerator cumA·m − cumB·n and the
    * weighted square sum stay EXACT integers (BigInt accumulation —
    * the square exceeds a long), and the single double division
    * S / (n·m·(n+m)²) at the end is mirrored by the oracle. Returns
    * (n_a, n_b, cvm). */
  def cvmStatistic(a: DataFrame, b: DataFrame, valueCol: String,
                   outDigits: Int = 6,
                   maxLocalCells: Long = 1L << 16,
                   maxLocalRows: Long = 1L << 22): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val tagged = a.select(col(valueCol).cast("double").as("v"), lit(1L).as("g"))
      .unionAll(b.select(col(valueCol).cast("double").as("v"), lit(0L).as("g")))
      .filter(col("v").isNotNull)
    // raw bounded collect (round 19 — the [[ksStatistic]] raw tier):
    // same per-distinct-value (ca, cb) fold on primitive arrays, same
    // BigInt walk, bit-identical T
    val rawTier = Spread.collectAtMost(tagged.as[(Double, Long)], maxLocalRows)
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
      val caV = new Array[Long](nd); val cbV = new Array[Long](nd)
      i = 0
      while (i < m) {
        val k = java.util.Arrays.binarySearch(dv, 0, nd, va(i))
        if (raw(i)._2 == 1L) caV(k) += 1L else cbV(k) += 1L
        i += 1
      }
      var na = 0L; var nb = 0L
      i = 0
      while (i < nd) { na += caV(i); nb += cbV(i); i += 1 }
      require(na > 0 && nb > 0, "both samples must be non-empty")
      var ca = 0L; var cb = 0L
      var acc = BigInt(0)
      i = 0
      while (i < nd) {
        ca += caV(i); cb += cbV(i)
        val num = BigInt(ca) * nb - BigInt(cb) * na
        acc += num * num * BigInt(caV(i) + cbV(i))
        i += 1
      }
      val n = na + nb
      val denom = BigInt(na) * BigInt(nb) * BigInt(n) * BigInt(n)
      val t = BigDecimal(acc.toDouble / denom.toDouble)
        .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
      return Seq((na, nb, t)).toDF("n_a", "n_b", "cvm")
    }
    val perValue0 = tagged.groupBy(col("v"))
      .agg(sum(col("g")).as("ca"), sum(lit(1L) - col("g")).as("cb"))
    // bounded driver cutover over the shared RDD-cached aggregate
    // ([[ksStatistic]] rationale): BigInt sums over the same value
    // order — exact, order-free, bit-identical
    val cellsRdd = perValue0.rdd
      .map(r => (r.getDouble(0), (r.getLong(1), r.getLong(2))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cellsRdd.count() <= maxLocalCells) {
        val cells = cellsRdd.collect().sortBy(_._1)
        var na = 0L; var nb = 0L
        cells.foreach { c => na += c._2._1; nb += c._2._2 }
        require(na > 0 && nb > 0, "both samples must be non-empty")
        var ca = 0L; var cb = 0L
        var acc = BigInt(0)
        cells.foreach { case (_, (xa, xb)) =>
          ca += xa; cb += xb
          val num = BigInt(ca) * nb - BigInt(cb) * na
          acc += num * num * BigInt(xa + xb)
        }
        val n = na + nb
        val denom = BigInt(na) * BigInt(nb) * BigInt(n) * BigInt(n)
        val t = BigDecimal(acc.toDouble / denom.toDouble)
          .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
        return Seq((na, nb, t)).toDF("n_a", "n_b", "cvm")
      }
      val rdd = cellsRdd.repartitionAndSortWithinPartitions(
        new org.apache.spark.RangePartitioner(
          math.max(1, cellsRdd.sparkContext.defaultParallelism), cellsRdd))
        .map(_._2)
      val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
        var x = 0L; var y = 0L
        it.foreach { case (ca, cb) => x += ca; y += cb }
        Iterator((i, x, y))
      }.collect().sortBy(_._1)
      val na = partTotals.map(_._2).sum
      val nb = partTotals.map(_._3).sum
      require(na > 0 && nb > 0, "both samples must be non-empty")
      val offs = new Array[(Long, Long)](math.max(rdd.getNumPartitions, 1))
      var accA = 0L; var accB = 0L
      partTotals.foreach { case (i, x, y) => offs(i) = (accA, accB); accA += x; accB += y }
      val bcOff = rdd.sparkContext.broadcast(offs)
      val s = rdd.mapPartitionsWithIndex { (i, it) =>
        var (ca, cb) = bcOff.value(i)
        var acc = BigInt(0)
        it.foreach { case (xa, xb) =>
          ca += xa; cb += xb
          // cumA·m − cumB·n can reach n·m, which overflows Long once
          // n·m ≥ 2^63 (~3e9 rows per side) — form it in BigInt.
          val num = BigInt(ca) * nb - BigInt(cb) * na
          acc += num * num * BigInt(xa + xb)
        }
        Iterator(acc)
      }.fold(BigInt(0))(_ + _)
      val n = na + nb
      val denom = BigInt(na) * BigInt(nb) * BigInt(n) * BigInt(n)
      val t = BigDecimal(s.toDouble / denom.toDouble)
        .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((na, nb, t)).toDF("n_a", "n_b", "cvm")
    } finally { cellsRdd.unpersist(blocking = false); () }
  }

  /** Per-series CUSUM change-point statistic: for each key, over rows
    * ordered by (ts, tie), the maximum absolute centered prefix
    * deviation `max_k |n·S_k − k·S_n|` of integer cent values — all
    * LONG arithmetic (the division by n·100 to currency units happens
    * once, at the end), so the statistic is bit-exact on any engine. A
    * large value flags a sustained level shift (the classic CUSUM
    * change-point signal); the argmax timestamp localizes it.
    *
    * Scale notes: per-row prefix sums NEVER run in one window over a
    * whole series. Rows bucket by `date_trunc(bucketUnit)`; cross-
    * bucket offsets come from a window over the per-(key, bucket)
    * aggregate (bounded by span/bucket — e.g. 720 rows per key for a
    * 30-day hourly span), and the per-row scan is a window inside ONE
    * (key, bucket) — bounded by bucket row counts. The same two-level
    * prefix-sum shape as [[Packing.concatChunk]], keyed. */
  def cusum(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
            valCol: Column, bucketUnit: String = "hour"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val rows = df.select(col(keyCol).as("k"), col(tsCol).as("ts"),
      col(tieCol).as("tie"), round(valCol * 100).cast("long").as("c"),
      date_trunc(bucketUnit, col(tsCol)).as("bucket"))
    val perBucket = rows.groupBy(col("k"), col("bucket"))
      .agg(sum(col("c")).as("bs"), count(lit(1)).as("bn"))
    val wk = w.partitionBy(col("k")).orderBy(col("bucket"))
    val offs = perBucket.select(col("k"), col("bucket"),
      (sum(col("bs")).over(wk) - col("bs")).as("off_s"),
      (sum(col("bn")).over(wk) - col("bn")).as("off_n"),
      sum(col("bs")).over(w.partitionBy(col("k"))).as("tot_s"),
      sum(col("bn")).over(w.partitionBy(col("k"))).as("tot_n"))
    val wb = w.partitionBy(col("k"), col("bucket"))
      .orderBy(col("ts"), col("tie"))
    val devs = rows.join(offs, Seq("k", "bucket"))
      .select(col("k"), col("ts"), col("tot_s"), col("tot_n"),
        (col("off_s") + sum(col("c")).over(wb)).as("sk"),
        (col("off_n") + count(lit(1)).over(wb)).as("rk"))
      .select(col("k"), col("ts"), col("tot_n"),
        abs(col("tot_n") * col("sk") - col("rk") * col("tot_s")).as("dev"))
      .localCheckpoint(false) // max pass + argmax join-back reuse it
    val mx = devs.groupBy(col("k")).agg(
      max(col("tot_n")).as("n"), max(col("dev")).as("max_dev"))
    devs.join(broadcast(mx), "k")
      .filter(col("dev") === col("max_dev"))
      .groupBy(col("k")).agg(
        max(col("n")).as("n"), max(col("max_dev")).as("max_dev"),
        min(col("ts")).as("argmax_ts")) // earliest row attaining the max
      .select(col("k").as(keyCol), col("n"), col("max_dev"),
        col("argmax_ts"))
  }

  /** POPULATION STABILITY INDEX between `valueCol` in `a` (expected /
    * reference) and `b` (actual / new) over FIXED bin edges — the
    * monitoring-dashboard standard for "has this feature's distribution
    * shifted". Per-bin frame: counts, clamped shares, and the PSI term
    * (p_a − p_b)·ln(p_a/p_b); the total PSI is the sum (>0.25 is the
    * conventional "significant shift" alarm).
    *
    * Fixed user-supplied edges (not runtime quantiles) keep the bin
    * assignment pure integer-comparison arithmetic — engine-exact and
    * stable across monitoring runs, which is the point of PSI. Bins
    * empty on one side are clamped to share 1e-6 (the industry
    * convention) instead of producing ±inf.
    *
    * Shape: one union scan → one tiny (nBins-bounded) aggregation; the
    * scalar totals broadcast back. The corpus is read once. */
  def psiBins(a: DataFrame, b: DataFrame, valueCol: String,
              breaks: Seq[Double]): DataFrame = {
    require(breaks.nonEmpty && breaks == breaks.sorted,
      "breaks must be non-empty and ascending")
    val tagged = a.select(col(valueCol).cast("double").as("v"), lit(1L).as("g"))
      .unionAll(b.select(col(valueCol).cast("double").as("v"), lit(0L).as("g")))
      .filter(col("v").isNotNull)
    // bin = number of edges <= v: 0..nBreaks, pure comparisons
    val bin = breaks.foldLeft(lit(0)) { (acc, br) =>
      acc + when(col("v") >= lit(br), 1).otherwise(0)
    }
    val counts = tagged.groupBy(bin.as("bin"))
      .agg(sum(col("g")).as("n_a"), sum(lit(1L) - col("g")).as("n_b"))
    val tot = counts.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"),
        greatest(col("n_a") / col("ta"), lit(1e-6)).as("pa"),
        greatest(col("n_b") / col("tb"), lit(1e-6)).as("pb"))
      .select(col("bin"), col("n_a"), col("n_b"),
        ((col("pa") - col("pb")) * log(col("pa") / col("pb")))
          .as("psi_term"))
  }

  /** Additive Holt–Winters (level + trend + weekly seasonality) over
    * the daily cent series — the seasonal completion of the
    * level/trend [[holtLevelTrend]]. Initialization: level = first-
    * week mean, trend = 0, seasonal = first week's deviations; then
    * the classic three recursions with exact-binary smoothing
    * constants (α=0.5, β=0.25, γ=0.25) so every engine folds the
    * identical IEEE sequence. The distributed work is one grouped
    * cent-sum; the fold runs over the BOUNDED calendar series
    * (driver-side here, a 9-column rotating-queue recursive CTE in
    * the oracle). Requires a GAP-FREE daily series (fails loudly on
    * gaps rather than diverging from the oracle silently). Returns
    * (n_days, level, trend, forecast_next, seasonal_range). */
  def holtWinters(df: DataFrame, tsCol: String, valueCol: String,
                  period: Int = 7, scaleDigits: Int = 2,
                  outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val vc = round(col(valueCol).cast("double") * lit(unit)).cast("long")
    val base = df.filter(col(valueCol).isNotNull && col(tsCol).isNotNull)
    val minDay = base.agg(min(to_date(col(tsCol)))).head().getDate(0)
    // the collect is bounded by the CALENDAR SPAN (one row per day,
    // pre-aggregated), not the row count — but that bound is
    // data-dependent, so cap the materialization STRUCTURALLY
    // (round 18, the maxGramP discipline): the limit means the driver
    // can never receive more than ~550 years of daily state even off
    // a corrupt ts column; hitting the cap fails fast.
    val maxDays = 200000
    val daily = base
      .groupBy(expr(s"datediff(to_date($tsCol), date'$minDay')").as("t"))
      .agg(sum(vc).as("xc"))
      .orderBy("t").limit(maxDays + 1).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    require(daily.length <= maxDays,
      s"holtWinters would fold > $maxDays daily buckets driver-side " +
        "(ts span too large or corrupt timestamps); pre-filter the " +
        "series or aggregate to a coarser grain")
    val n = daily.length
    require(n >= 2 * period, s"need at least ${2 * period} days, got $n")
    require(daily.map(_._1).toSeq == (0 until n),
      "holtWinters requires a gap-free daily series")
    val x = daily.map(_._2.toDouble)
    val (aS, bS, gS) = (0.5, 0.25, 0.25)
    var l = x.take(period).sum / period.toDouble
    var b = 0.0
    val s = Array.tabulate(period)(d => x(d) - l)
    var t = period
    while (t < n) {
      val sPrev = s(t % period)
      val lNew = aS * (x(t) - sPrev) + (1.0 - aS) * (l + b)
      val bNew = bS * (lNew - l) + (1.0 - bS) * b
      s(t % period) = gS * (x(t) - lNew) + (1.0 - gS) * sPrev
      l = lNew; b = bNew
      t += 1
    }
    val sNext = s(n % period)
    def r6(v: Double) = BigDecimal(v)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n.toLong, r6(l / unit), r6(b / unit),
      r6((l + b + sNext) / unit), r6((s.max - s.min) / unit)))
      .toDF("n_days", "level", "trend", "forecast_next", "seasonal_range")
  }

  /** Best single change point of the weekly mean (one binary-
    * segmentation step): the split s maximizing the between-segment
    * sum-of-squares gain n_l·n_r/n·(mean_l − mean_r)² over the
    * bounded weekly grid — "WHEN did the level shift", where [[cusum]]
    * answers "did it shift". The weekly series is one grouped
    * cent-sum; prefix sums over the grid give every candidate split's
    * gain from exact integers, and both engines evaluate the same
    * double gain formula on the same integers, so the argmax (ties →
    * earliest week) is deterministic. Returns one row
    * (split_week, n_l, n_r, mean_l, mean_r, ln_gain) — the gain
    * ln-encoded (the nulldev discipline); a flat series (all candidate
    * gains 0) fails with a diagnostic rather than emitting ln(0). */
  def changepointSplit(df: DataFrame, tsCol: String, valueCol: String,
                       scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val vc = round(col(valueCol).cast("double") * lit(unit)).cast("long")
    val base = df.filter(col(valueCol).isNotNull && col(tsCol).isNotNull)
    val minDay = base.agg(min(to_date(col(tsCol)))).head().getDate(0)
    val weekly = base
      .groupBy(expr(s"datediff(to_date($tsCol), date'$minDay') div 7")
        .as("x"))
      .agg(count(lit(1)).as("m"), sum(vc).as("y"))
      .orderBy("x")
      .collect() // bounded by span/7 weeks
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    require(weekly.length >= 2, "need at least 2 weeks")
    val nTot = weekly.map(_._2).sum
    val sTot = weekly.map(_._3).sum
    var bestGain = Double.NegativeInfinity
    var best: (Long, Long, Long) = null // (week, n_l, s_l)
    var nl = 0L; var sl = 0L
    weekly.dropRight(1).foreach { case (x, m, y) =>
      nl += m; sl += y
      val nr = nTot - nl; val sr = sTot - sl
      val ml = sl.toDouble / nl.toDouble
      val mr = sr.toDouble / nr.toDouble
      val gain = nl.toDouble * nr.toDouble / nTot.toDouble *
        (ml - mr) * (ml - mr)
      if (gain > bestGain) { bestGain = gain; best = (x, nl, sl) }
    }
    val (w, bnl, bsl) = (best._1, best._2, best._3)
    // a perfectly flat series has every candidate gain 0 -> ln_gain is
    // undefined; fail with a diagnostic instead of NumberFormatException
    // from BigDecimal(-Infinity)
    require(bestGain > 0,
      "changepointSplit: flat series — every split gain is 0, no changepoint")
    def r6(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((w, bnl, nTot - bnl,
      r6(bsl.toDouble / bnl.toDouble / unit),
      r6((sTot - bsl).toDouble / (nTot - bnl).toDouble / unit),
      r6(math.log(bestGain / (unit * unit)))))
      .toDF("split_week", "n_l", "n_r", "mean_l", "mean_r", "ln_gain")
  }

  /** PSI drift TIME SERIES: the [[psiBins]] statistic of every
    * calendar week against the FIRST week's distribution — "when did
    * the feed start drifting", the monitoring view the one-shot PSI
    * cannot give. Week index is a gap-safe integer (`days-since-min
    * div 7`); bins are fixed break comparisons; the dense
    * (week × bin) grid is bounded by span/7 × breaks. Per-week PSI
    * sums ≤ breaks+1 ln terms and rounds once. Returns one row per
    * week: (week, n_rows, psi). */
  def psiSeries(df: DataFrame, tsCol: String, valueCol: String,
                breaks: Seq[Double], outDigits: Int = 6): DataFrame = {
    require(breaks.nonEmpty && breaks == breaks.sorted,
      "breaks must be non-empty and ascending")
    val spark = df.sparkSession
    val base0 = df.filter(col(valueCol).isNotNull && col(tsCol).isNotNull)
    val minDay = base0.agg(min(to_date(col(tsCol)))).head().getDate(0)
    val bin = breaks.foldLeft(lit(0)) { (acc, br) =>
      acc + when(col("v") >= lit(br), 1).otherwise(0)
    }
    val counts = base0
      .select(col(valueCol).cast("double").as("v"),
        expr(s"datediff(to_date(${tsCol}), date'${minDay}') div 7").as("week"))
      .groupBy(col("week"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // grid + baseline + totals reuse
    val weeks = counts.select(col("week")).distinct()
    val binsDf = spark.range(breaks.size + 1).select(col("id").cast("int").as("bin"))
    val grid = weeks.crossJoin(broadcast(binsDf))
      .join(counts, Seq("week", "bin"), "left").na.fill(0L, Seq("n"))
    val baseline = counts.filter(col("week") === 0)
      .select(col("bin"), col("n").as("n0"))
    val totals = grid.groupBy(col("week")).agg(sum(col("n")).as("t"))
    val t0 = counts.filter(col("week") === 0)
      .agg(coalesce(sum(col("n")), lit(0L)).as("t0"))
    grid
      .join(broadcast(baseline), Seq("bin"), "left").na.fill(0L, Seq("n0"))
      .join(totals, Seq("week"))
      .crossJoin(broadcast(t0))
      .select(col("week"), col("t"),
        (greatest(col("n") / col("t"), lit(1e-6))
          .as("pa")),
        (greatest(col("n0") / col("t0"), lit(1e-6))
          .as("pb")))
      .select(col("week"), col("t"),
        ((col("pa") - col("pb")) * log(col("pa") / col("pb"))).as("term"))
      .groupBy(col("week"), col("t"))
      .agg(round(sum(col("term")), outDigits).as("psi"))
      .select(col("week"), col("t").as("n_rows"), col("psi"))
      .orderBy("week")
  }

  /** Per-key exponentially-weighted moving level: the recursion
    * `y ← (1−α)·y + α·x` over each key's series in (ts, tie) order,
    * seeded with the first observation — the classic smoothed-level /
    * one-step-forecast monitor (the recursive companion to the
    * windowed [[cusum]]). Returns one row per key:
    * (keyCol, n, last_ts, ewma).
    *
    * Determinism: the fold visits rows in a total order (ts, then
    * `tieCol`), so the floating-point sequence is fixed — an oracle
    * replaying the same order (e.g. DuckDB
    * `list_reduce(list(v ORDER BY ts, tie), …)`) reproduces it
    * bit-exactly. Use an α whose binary expansion is exact (0.25,
    * 0.125…) to keep `1−α` exact too.
    *
    * Shape (100 TB): one hash repartition on the key + partition-local
    * secondary sort (the [[Ranking]] / [[Curation]] pattern), then a
    * STREAMING fold — O(1) state per key, no per-key buffering, no
    * window over an unbounded frame. */
  def ewmaLevel(df: DataFrame, keyCol: String, tsCol: String,
                tieCol: String, valueCol: String,
                alpha: Double = 0.25): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val spark = df.sparkSession
    import spark.implicits._
    val beta = 1.0 - alpha
    df.select(col(keyCol).cast("long").as("k"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts"),
        col(tieCol).cast("long").as("tie"),
        col(valueCol).cast("double").as("v"))
      .filter(col("k").isNotNull && col("ts").isNotNull && col("v").isNotNull)
      .repartition(col("k"))
      .sortWithinPartitions("k", "ts", "tie")
      .as[(Long, Long, Long, Double)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, Double)] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Long, Long, Double) = {
            val (k, ts0, _, v0) = buf.next()
            var level = v0; var n = 1L; var lastTs = ts0
            while (buf.hasNext && buf.head._1 == k) {
              val (_, ts, _, v) = buf.next()
              level = beta * level + alpha * v
              n += 1; lastTs = ts
            }
            (k, n, lastTs, level)
          }
        }
      }
      .toDF("k", "n", "last_ts", "ewma")
      .select(col("k").as(keyCol), col("n"),
        timestamp_micros(col("last_ts")).as("last_ts"), col("ewma"))
  }

  /** EXACT 1-D Earth Mover's (Wasserstein-1) distance between two
    * samples of an integer-cent value — `∫|F_A − F_B| dx`, the
    * distribution-shift measure that (unlike [[ksStatistic]]'s sup)
    * weighs HOW FAR mass moved, and (unlike [[psiBins]]) needs no
    * binning. Complements KS / PSI / KL on the drift board.
    *
    * Integral core: on the distinct-value grid,
    * `num = Σ_i |cumA_i·nB − cumB_i·nA| · (v_{i+1} − v_i)` — exact
    * BigInt sums in the same two-pass range-partitioned scan as
    * [[ksStatistic]] (per-partition cum/boundary offsets; the partials
    * are one BigInt per partition). Reported
    * `emd_milli = num·1000 div (nA·nB)` in milli-cents. */
  def emd1d(a: DataFrame, b: DataFrame, valueCol: String,
            maxLocalCells: Long = 1L << 16): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val tagged = a.select(round(col(valueCol).cast("double") * 100)
        .cast("long").as("v"), lit(1L).as("g"))
      .unionAll(b.select(round(col(valueCol).cast("double") * 100)
        .cast("long").as("v"), lit(0L).as("g")))
      .filter(col("v").isNotNull)
    val perValue0 = tagged.groupBy(col("v"))
      .agg(sum(col("g")).as("ca"), sum(lit(1L) - col("g")).as("cb"))
    // bounded driver cutover over the shared RDD-cached aggregate
    // ([[ksStatistic]] rationale): same BigInt gap·step sum over the
    // same value order
    val cellsRdd = perValue0.rdd
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cellsRdd.count() <= maxLocalCells) {
        val cells = cellsRdd.collect().sortBy(_._1)
        var na = 0L; var nb = 0L
        cells.foreach { c => na += c._2._1; nb += c._2._2 }
        require(na > 0 && nb > 0, "both samples must be non-empty")
        var cA = 0L; var cB = 0L
        var prev = 0L; var havePrev = false
        var num = BigInt(0)
        cells.foreach { case (v, (pa, pb)) =>
          if (havePrev) {
            val gap = BigInt(v - prev)
            num += (BigInt(cA) * nb - BigInt(cB) * na).abs * gap
          }
          cA += pa; cB += pb
          prev = v; havePrev = true
        }
        val denom = BigInt(na) * BigInt(nb)
        val emdMilli = (num * 1000 / denom).toLong
        return Seq((na, nb, emdMilli)).toDF("n_a", "n_b", "emd_milli_cents")
      }
      val rdd = cellsRdd.repartitionAndSortWithinPartitions(
        new org.apache.spark.RangePartitioner(
          math.max(1, cellsRdd.sparkContext.defaultParallelism), cellsRdd))
        .map { case (v, (pa, pb)) => (v, pa, pb) }
      // pass 1: per-partition totals + first/last values
      val parts = rdd.mapPartitionsWithIndex { (i, it) =>
        var sa = 0L; var sb = 0L
        var first = Long.MinValue; var last = Long.MinValue; var any = false
        it.foreach { case (v, ca, cb) =>
          if (!any) { first = v; any = true }
          last = v; sa += ca; sb += cb
        }
        Iterator((i, sa, sb, any, first, last))
      }.collect().sortBy(_._1)
      val na = parts.map(_._2).sum
      val nb = parts.map(_._3).sum
      require(na > 0 && nb > 0, "both samples must be non-empty")
      val n = parts.length
      val offA = new Array[Long](n); val offB = new Array[Long](n)
      val prevLast = new Array[Long](n) // last value of preceding data
      val hasPrev = new Array[Boolean](n)
      var ca = 0L; var cb = 0L; var lastV = 0L; var seen = false
      parts.foreach { case (i, sa, sb, any, first, last) =>
        offA(i) = ca; offB(i) = cb
        prevLast(i) = lastV; hasPrev(i) = seen
        ca += sa; cb += sb
        if (any) { lastV = last; seen = true }
      }
      val bcA = rdd.sparkContext.broadcast(offA)
      val bcB = rdd.sparkContext.broadcast(offB)
      val bcP = rdd.sparkContext.broadcast(prevLast)
      val bcH = rdd.sparkContext.broadcast(hasPrev)
      // pass 2: per-partition BigInt partial of Σ|cumA·nB − cumB·nA|·gap
      val partials = rdd.mapPartitionsWithIndex { (i, it) =>
        var cA = bcA.value(i); var cB = bcB.value(i)
        var prev = bcP.value(i); var havePrev = bcH.value(i)
        var num = BigInt(0)
        it.foreach { case (v, pa, pb) =>
          if (havePrev) {
            val gap = BigInt(v - prev)
            num += (BigInt(cA) * nb - BigInt(cB) * na).abs * gap
          }
          cA += pa; cB += pb
          prev = v; havePrev = true
        }
        Iterator(num.toString)
      }.collect().map(BigInt(_)).sum
      val denom = BigInt(na) * BigInt(nb)
      val emdMilli = (partials * 1000 / denom).toLong
      Seq((na, nb, emdMilli)).toDF("n_a", "n_b", "emd_milli_cents")
    } finally cellsRdd.unpersist(blocking = false)
  }

  /** Holt double-exponential smoothing per key: level + trend state
    * folded over the (ts, tie)-ordered series —
    *   level' = α·x + (1−α)·(level + trend)
    *   trend' = β·(level' − level) + (1−β)·trend
    * init level = x₀, trend = 0. The one-step-ahead forecast is
    * `level + trend`. [[ewmaLevel]] tracks level only; Holt also
    * captures drift DIRECTION — the "is this domain's quality score
    * trending down" monitor.
    *
    * Same engine-exactness contract as [[ewmaLevel]]: the fold replays
    * an identical FP sequence over an identical total order, so the
    * result is bit-exact before the final round; state is three
    * scalars per key (streaming-ready via mapGroupsWithState). Use α/β
    * values exactly representable in binary (0.5, 0.25, …) to keep the
    * oracle's literal parsing exact. */
  def holtLevelTrend(df: DataFrame, keyCol: String, tsCol: String,
                     tieCol: String, valueCol: String,
                     alpha: Double = 0.5, beta: Double = 0.25): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(beta > 0 && beta < 1, s"beta must be in (0,1), got $beta")
    val spark = df.sparkSession
    import spark.implicits._
    val (av, bv) = (alpha, beta)
    df.select(col(keyCol).cast("long").as("k"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts"),
        col(tieCol).cast("long").as("tie"),
        col(valueCol).cast("double").as("v"))
      .filter(col("k").isNotNull && col("ts").isNotNull && col("v").isNotNull)
      .repartition(col("k"))
      .sortWithinPartitions("k", "ts", "tie")
      .as[(Long, Long, Long, Double)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, Double, Double)] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Long, Long, Double, Double) = {
            val (k, ts0, _, v0) = buf.next()
            var l = v0; var b = 0.0; var n = 1L; var lastTs = ts0
            while (buf.hasNext && buf.head._1 == k) {
              val (_, ts, _, x) = buf.next()
              val l2 = av * x + (1 - av) * (l + b)
              val b2 = bv * (l2 - l) + (1 - bv) * b
              l = l2; b = b2; n += 1; lastTs = ts
            }
            (k, n, lastTs, l, b)
          }
        }
      }
      .toDF("k", "n", "last_ts", "level", "trend")
      .select(col("k").as(keyCol), col("n"),
        timestamp_micros(col("last_ts")).as("last_ts"),
        round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("level") + col("trend"), 6).as("forecast"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between `valueCol` in `a` and
    * in `b` — the nonparametric two-sample location test, the standard
    * "did this slice's quality-score distribution shift" check when
    * normality can't be assumed (KS tests shape, MW tests location).
    *
    * Exact integer core: values reduce to one row per DISTINCT value
    * with per-sample counts; midranks-with-ties come from the same
    * two-pass range-partitioned prefix scan as [[ksStatistic]], kept
    * ×2 so they stay integral (`rank2 = 2·cumBefore + ties + 1`).
    * Returns one row:
    *   n_a, n_b     — sample sizes
    *   u2           — 2·U_a (integer-exact; U_a = u2/2)
    *   tie_term     — Σ (t³ − t) over tie groups (integer). BOUND: the
    *                  declared long column caps any single value's tie
    *                  count at t < 2^21 ≈ 2.1M (t³ < 2^63); both paths
    *                  accumulate in long to match the declared schema —
    *                  beyond the bound the OUTPUT COLUMN itself cannot
    *                  hold Σ(t³−t), so quantize/bucket values first
    *                  (kruskal/cvm return no raw tie sum and use
    *                  BigInt/decimal internally instead)
    *   z            — normal approximation with tie correction,
    *                  rounded; the ONLY float, computed once from the
    *                  integer sufficient statistics. */
  def mannWhitneyU(a: DataFrame, b: DataFrame, valueCol: String,
                   outDigits: Int = 6,
                   maxLocalCells: Long = 1L << 16): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val tagged = a.select(col(valueCol).cast("double").as("v"), lit(1L).as("g"))
      .unionAll(b.select(col(valueCol).cast("double").as("v"), lit(0L).as("g")))
      .filter(col("v").isNotNull)
    val perValue0 = tagged.groupBy(col("v"))
      .agg(sum(col("g")).as("ca"), sum(lit(1L) - col("g")).as("cb"))
    // bounded driver cutover over the shared RDD-cached aggregate
    // ([[ksStatistic]] rationale): the same integral ×2-midrank fold
    // over the same value order
    val cellsRdd = perValue0.rdd
      .map(r => (r.getDouble(0), (r.getLong(1), r.getLong(2))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cellsRdd.count() <= maxLocalCells) {
        val cells = cellsRdd.collect().sortBy(_._1)
        var na = 0L; var nb = 0L
        cells.foreach { c => na += c._2._1; nb += c._2._2 }
        require(na > 0 && nb > 0, "both samples must be non-empty")
        var cum = 0L; var r1x2 = 0L; var tieSum = 0L
        cells.foreach { case (_, (ca, cb)) =>
          val t = ca + cb
          r1x2 += ca * (2 * cum + t + 1)
          tieSum += t * t * t - t
          cum += t
        }
        val u2 = r1x2 - na * (na + 1)
        val n = na + nb
        val sigma = math.sqrt(na.toDouble * nb / 12.0 *
          ((n + 1) - tieSum.toDouble / (n.toDouble * (n - 1))))
        val z = BigDecimal((u2 - na * nb).toDouble / (2.0 * sigma))
          .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
        return Seq((na, nb, u2, tieSum, z))
          .toDF("n_a", "n_b", "u2", "tie_term", "z")
      }
      val rdd = cellsRdd.repartitionAndSortWithinPartitions(
        new org.apache.spark.RangePartitioner(
          math.max(1, cellsRdd.sparkContext.defaultParallelism), cellsRdd))
        .map(_._2)
      val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
        var x = 0L; var y = 0L
        it.foreach { case (ca, cb) => x += ca; y += cb }
        Iterator((i, x, y))
      }.collect().sortBy(_._1)
      val na = partTotals.map(_._2).sum
      val nb = partTotals.map(_._3).sum
      require(na > 0 && nb > 0, "both samples must be non-empty")
      val offs = new Array[Long](math.max(rdd.getNumPartitions, 1))
      var acc = 0L
      partTotals.foreach { case (i, x, y) => offs(i) = acc; acc += x + y }
      val bcOff = rdd.sparkContext.broadcast(offs)
      val (r1x2, tieSum) = rdd.mapPartitionsWithIndex { (i, it) =>
        var cum = bcOff.value(i)
        var r = 0L; var ts = 0L
        it.foreach { case (ca, cb) =>
          val t = ca + cb
          r += ca * (2 * cum + t + 1) // 2x the midrank, integral
          ts += t * t * t - t
          cum += t
        }
        Iterator((r, ts))
      }.fold((0L, 0L)) { case ((x1, y1), (x2, y2)) => (x1 + x2, y1 + y2) }
      val u2 = r1x2 - na * (na + 1)
      val n = na + nb
      // z mirrors the oracle's expression tree op for op
      val sigma = math.sqrt(na.toDouble * nb / 12.0 *
        ((n + 1) - tieSum.toDouble / (n.toDouble * (n - 1))))
      val z = BigDecimal((u2 - na * nb).toDouble / (2.0 * sigma))
        .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((na, nb, u2, tieSum, z)).toDF("n_a", "n_b", "u2", "tie_term", "z")
    } finally cellsRdd.unpersist(blocking = false)
  }

  /** Daily cent totals of a timestamped value column, ordered — the
    * calendar-bounded series the trend/randomness tests below run on
    * (one grouped aggregation; only longs cross the driver boundary). */
  private def dailyCents(events: DataFrame, tsCol: String, valueCol: String,
                         unit: Double): Array[Long] =
    events.filter(col(valueCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("d"))
      .agg(sum(round(col(valueCol).cast("double") * lit(unit)).cast("long"))
        .as("y"))
      .orderBy("d").select("y")
      .collect().map(_.getLong(0))

  /** Wald–Wolfowitz RUNS test for randomness of the daily series
    * around its median: too few runs = sticky regimes (trend/level
    * shifts), too many = oscillation. Values equal to the median are
    * dropped (the standard convention); the 2×-median stays on the
    * integer grid so the above/below signs are engine-exact. Returns
    * (n_above, n_below, n_runs, z) with the normal approximation
    *   μ = 2ab/(a+b) + 1, σ² = 2ab(2ab−a−b)/((a+b)²(a+b−1)). */
  def runsTest(events: DataFrame, tsCol: String, valueCol: String,
               scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ys = dailyCents(events, tsCol, valueCol, math.pow(10, scaleDigits))
    require(ys.length >= 3, "runsTest needs at least 3 days")
    // exact doubled median of the day totals (integer grid)
    val sorted = ys.sorted
    val n0 = sorted.length
    val med2 = if (n0 % 2 == 1) 2 * sorted(n0 / 2)
      else sorted(n0 / 2 - 1) + sorted(n0 / 2)
    val signs = ys.filter(y => 2 * y != med2).map(y => 2 * y > med2)
    val a = signs.count(identity).toLong
    val b = signs.length - a
    require(a > 0 && b > 0, "runsTest: all days on one side of the median")
    var runs = 1L
    var i = 1
    while (i < signs.length) {
      if (signs(i) != signs(i - 1)) runs += 1
      i += 1
    }
    val nn = (a + b).toDouble
    val mu = 2.0 * a * b / nn + 1.0
    val sigma = math.sqrt(2.0 * a * b * (2.0 * a * b - a - b) /
      (nn * nn * (nn - 1.0)))
    val z = BigDecimal((runs - mu) / sigma)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((a, b, runs, z)).toDF("n_above", "n_below", "n_runs", "z")
  }

  /** Mann–Kendall trend test on the daily series: S = Σ_{i<j}
    * sign(y_j − y_i) (integral), tie-corrected variance
    * 18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), and the
    * continuity-corrected z = (S∓1)/√Var — THE nonparametric
    * monotone-trend detector (no linearity or normality assumed).
    * The pair set is calendar-bounded (days², not rows²); the series
    * reduces to day totals in one aggregation. Returns
    * (n_days, s_stat, var18, z). */
  def mannKendall(events: DataFrame, tsCol: String, valueCol: String,
                  scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ys = dailyCents(events, tsCol, valueCol, math.pow(10, scaleDigits))
    val n = ys.length
    require(n >= 3, "mannKendall needs at least 3 days")
    var s = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        s += java.lang.Long.signum(ys(j) - ys(i))
        j += 1
      }
      i += 1
    }
    val ties = ys.groupBy(identity).values.map(_.length.toLong)
      .filter(_ > 1)
    val var18 = n.toLong * (n - 1) * (2L * n + 5) -
      ties.map(t => t * (t - 1) * (2 * t + 5)).sum
    require(var18 > 0, "mannKendall: constant series — variance zero")
    val z0 =
      if (s > 0) (s - 1).toDouble / math.sqrt(var18.toDouble / 18.0)
      else if (s < 0) (s + 1).toDouble / math.sqrt(var18.toDouble / 18.0)
      else 0.0
    val z = BigDecimal(z0)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n.toLong, s, var18, z)).toDF("n_days", "s_stat", "var18", "z")
  }
}
