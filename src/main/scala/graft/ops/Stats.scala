package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Classical statistics over distributed data, engine-exact.
  *
  * Every operator here follows the repo's cross-engine discipline: all
  * sufficient statistics are integral (cent-scaled longs summed in
  * decimal(38,0)), the first inexact step is one double conversion in
  * the closed-form finish, and that expression tree is mirrored op for
  * op by the DuckDB oracle. Rank-based tests reuse the two-pass
  * range-partitioned distinct-value prefix scan (see
  * [[Drift.mannWhitneyU]]) so no stage ever buffers more than its range
  * slice — the shape that survives any row count.
  */
object Stats {

  /** 2× midranks per distinct value of `vCol` (double), as a (v, rank2)
    * frame. rank2 = 2·cumBefore + ties + 1 stays integral; the prefix
    * runs as per-partition totals broadcast back as offsets — the
    * [[Drift.mannWhitneyU]] scan, kept distributed (the map is returned
    * as a DataFrame to be joined back, not collected). */
  private def rank2Map(df: DataFrame, vCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val perValue = df.groupBy(col(vCol).as("v"))
      .agg(count(lit(1)).as("t"))
      .repartitionByRange(col("v"))
      .sortWithinPartitions("v")
    val rdd = perValue.rdd.map(r => (r.getDouble(0), r.getLong(1)))
    val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
      var x = 0L; it.foreach(x += _._2); Iterator((i, x))
    }.collect().sortBy(_._1)
    val offs = new Array[Long](math.max(rdd.getNumPartitions, 1))
    var acc = 0L
    partTotals.foreach { case (i, x) => offs(i) = acc; acc += x }
    val bcOff = spark.sparkContext.broadcast(offs)
    rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = bcOff.value(i)
      it.map { case (v, t) =>
        val r2 = 2 * cum + t + 1
        cum += t
        (v, r2)
      }
    }.toDF("v", "rank2")
  }

  /** Tie test of the local-tier value walks over sorted doubles: NaN != NaN,
    * so without the second clause a NaN never joins its own run, the
    * walk stops advancing and either spins or overruns its value array.
    * Every NaN (sorted last) is ONE tie, the way Spark's grouping and
    * ranking treat NaN on the distributed tiers. */
  private[ops] def sameRankValue(x: Double, y: Double): Boolean =
    x == y || (x.isNaN && y.isNaN)

  /** Spearman rank correlation between `colA` and `colB` with exact
    * average-rank tie handling: midranks (×2, integral) per column via
    * the distributed distinct-value prefix scan, joined back by value,
    * then Pearson on the integral ranks with decimal(38,0) moments.
    * Returns one row (n, rho). The double division + sqrt at the end is
    * the only inexact step, mirrored by the oracle. */
  def spearman(df: DataFrame, colA: String, colB: String,
               outDigits: Int = 6,
               maxLocalCells: Long = 1L << 20,
               longExactN: Long = 1200000L,
               maxLocalRows: Long = 1L << 22): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df
      .select(col(colA).cast("double").as("a"), col(colB).cast("double").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    // Raw bounded collect (optimization round 19): for CONTINUOUS pair
    // columns the (a, b) cells are nearly all distinct, so the cell
    // aggregation below shuffles ~n rows to deduplicate nothing and
    // then pays an RDD cache + boxed index sorts on the driver
    // (probe: q_spearman 2.73 s, most of it that chain). Below an
    // explicit ROW bound — one bounded scan (Spread.collectAtMost) behind
    // the free plan-stats pregate, so a 100 TB input pays no scan — skip
    // the aggregation entirely: collect the raw pairs and assign ranks
    // with primitive-array sorts + binary search. Rank2 values are the
    // identical integers (ties accumulate the same per-value row
    // counts in the same value order), the moment accumulators are the
    // same long/BigInt branches with cnt = 1, and the closing double
    // expressions are shared — bit-identical output (LocalCutoverSpec
    // pins all three paths).
    val rawTier = Spread.collectAtMost(rows.as[(Double, Double)], maxLocalRows)
    if (rawTier.isDefined) {
      val raw = rawTier.get
      val m = raw.length
      val va = new Array[Double](m); val vb = new Array[Double](m)
      var i = 0
      while (i < m) {
        // normalize -0.0 like Spark's grouping/rank semantics would
        val x = raw(i)._1; val y = raw(i)._2
        va(i) = if (x == 0.0) 0.0 else x
        vb(i) = if (y == 0.0) 0.0 else y
        i += 1
      }
      // ×2 midranks: sorted COPY → distinct values + per-value rank2 →
      // binary-search each row (all primitive — the boxed
      // Array.range.sortBy on 600k indices was the driver hot spot)
      def assignRank2Raw(v: Array[Double]): Array[Long] = {
        val sorted = v.clone()
        java.util.Arrays.sort(sorted)
        val dv = new Array[Double](m); val r2 = new Array[Long](m)
        var nd = 0; var p0 = 0; var cum = 0L
        while (p0 < m) {
          var q = p0
          while (q < m && sameRankValue(sorted(q), sorted(p0))) q += 1
          val t = (q - p0).toLong
          dv(nd) = sorted(p0); r2(nd) = 2 * cum + t + 1
          cum += t; nd += 1; p0 = q
        }
        val out = new Array[Long](m)
        var k = 0
        while (k < m) {
          out(k) = r2(java.util.Arrays.binarySearch(dv, 0, nd, v(k)))
          k += 1
        }
        out
      }
      val xr = assignRank2Raw(va); val yr = assignRank2Raw(vb)
      val nL = m.toLong
      val Seq(n, sx, sy, sxx, syy, sxy) =
        if (nL <= longExactN) {
          var sxL = 0L; var syL = 0L; var sxxL = 0L; var syyL = 0L
          var sxyL = 0L
          i = 0
          while (i < m) {
            val x = xr(i); val y = yr(i)
            sxL += x; syL += y
            sxxL += x * x; syyL += y * y; sxyL += x * y
            i += 1
          }
          Seq(nL, sxL, syL, sxxL, syyL, sxyL).map(BigDecimal(_))
        } else {
          var sxB = BigInt(0); var syB = BigInt(0); var sxxB = BigInt(0)
          var syyB = BigInt(0); var sxyB = BigInt(0)
          i = 0
          while (i < m) {
            val x = BigInt(xr(i)); val y = BigInt(yr(i))
            sxB += x; syB += y
            sxxB += x * x; syyB += y * y; sxyB += x * y
            i += 1
          }
          Seq(BigInt(nL), sxB, syB, sxxB, syyB, sxyB).map(BigDecimal(_))
        }
      val num = (n * sxy - sx * sy).toDouble
      val dx = (n * sxx - sx * sx).toDouble
      val dy = (n * syy - sy * sy).toDouble
      val rho = BigDecimal(num / (math.sqrt(dx) * math.sqrt(dy)))
        .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
      return Seq((n.toLong, rho)).toDF("n", "rho")
    }
    // Bounded joint-histogram fast path (optimization round 18): every
    // moment sum decomposes over the DISTINCT (a, b) cells —
    // Σ_rows ra2·rb2 = Σ_cells cnt·ra2(a)·rb2(b) — so below an explicit
    // cell bound ONE corpus aggregation replaces the two rank-map
    // passes (each a range-partition chain), the two joins back and
    // the row-level moment aggregate. Ranks and moments are the same
    // exact integers (BigInt == decimal(38,0) sums); the double
    // conversions below are copied expression for expression, so the
    // result is bit-identical. Above the bound the distributed
    // two-pass rank path below is unchanged. The cell aggregation is
    // NOT shared with the distributed path, so it is pre-gated on the
    // free plan-stats estimate ([[Spread.smallByStats]]) — a 100 TB
    // input never pays the gate pass.
    if (Spread.smallByStats(rows, 128L << 20)) {
      val cellsRdd = rows.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cnt")).rdd
        .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      if (cellsRdd.count() <= maxLocalCells) {
        val cells0 = cellsRdd.collect()
        val m = cells0.length
        val va = new Array[Double](m); val vb = new Array[Double](m)
        val cn = new Array[Long](m)
        var i = 0
        while (i < m) {
          val r = cells0(i)
          va(i) = r._1; vb(i) = r._2; cn(i) = r._3
          i += 1
        }
        // ×2 midranks per cell, assigned by one value-sorted index walk
        // per column (int-array arithmetic, no maps — the
        // harmonicCentrality lesson)
        def assignRank2(v: Array[Double], out: Array[Long]): Unit = {
          val idx = Array.range(0, m).sortBy(v(_))
          var cum = 0L; var p = 0
          while (p < m) {
            var q = p; var t = 0L
            while (q < m && sameRankValue(v(idx(q)), v(idx(p)))) {
              t += cn(idx(q)); q += 1
            }
            val r2 = 2 * cum + t + 1
            var k = p
            while (k < q) { out(idx(k)) = r2; k += 1 }
            cum += t; p = q
          }
        }
        val xr = new Array[Long](m); val yr = new Array[Long](m)
        assignRank2(va, xr); assignRank2(vb, yr)
        var nL = 0L
        i = 0; while (i < m) { nL += cn(i); i += 1 }
        // moments: long accumulators are exact while 4n³ < 2^63
        // (rank2 ≤ 2n+1, each term ≤ cnt·(2n+1)², total ≤ n·(2n+1)²);
        // above that, BigInt per cell — both equal the distributed
        // decimal(38,0) sums exactly. `longExactN` (default 1.2M, well
        // under the ∛(2^61) ≈ 1.3M safety bound) is a parameter so the
        // BigInt branch is testable at small n (LocalCutoverSpec).
        val Seq(n, sx, sy, sxx, syy, sxy) =
          if (nL <= longExactN) {
            var sxL = 0L; var syL = 0L; var sxxL = 0L; var syyL = 0L
            var sxyL = 0L
            i = 0
            while (i < m) {
              val c = cn(i); val x = xr(i); val y = yr(i)
              sxL += c * x; syL += c * y
              sxxL += c * x * x; syyL += c * y * y; sxyL += c * x * y
              i += 1
            }
            Seq(nL, sxL, syL, sxxL, syyL, sxyL).map(BigDecimal(_))
          } else {
            var sxB = BigInt(0); var syB = BigInt(0); var sxxB = BigInt(0)
            var syyB = BigInt(0); var sxyB = BigInt(0)
            i = 0
            while (i < m) {
              val c = BigInt(cn(i)); val x = BigInt(xr(i)); val y = BigInt(yr(i))
              sxB += c * x; syB += c * y
              sxxB += c * x * x; syyB += c * y * y; sxyB += c * x * y
              i += 1
            }
            Seq(BigInt(nL), sxB, syB, sxxB, syyB, sxyB).map(BigDecimal(_))
          }
        val num = (n * sxy - sx * sy).toDouble
        val dx = (n * sxx - sx * sx).toDouble
        val dy = (n * syy - sy * sy).toDouble
        val rho = BigDecimal(num / (math.sqrt(dx) * math.sqrt(dy)))
          .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
        return Seq((n.toLong, rho)).toDF("n", "rho")
      }
      } finally cellsRdd.unpersist(blocking = false)
    }
    val ra = rank2Map(rows, "a").withColumnRenamed("rank2", "ra2")
    val rb = rank2Map(rows, "b").withColumnRenamed("rank2", "rb2")
    val joined = rows
      .join(ra, rows("a") === ra("v")).drop("v")
      .join(rb, rows("b") === rb("v")).drop("v")
    def d(c: String) = col(c).cast("decimal(38,0)")
    val m = joined.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(d("ra2")).as("sx"), sum(d("rb2")).as("sy"),
      sum(d("ra2") * d("ra2")).as("sxx"),
      sum(d("rb2") * d("rb2")).as("syy"),
      sum(d("ra2") * d("rb2")).as("sxy")).head()
    val Seq(n, sx, sy, sxx, syy, sxy) =
      (0 until 6).map(i => BigDecimal(m.getDecimal(i)))
    // decimal intermediates exact (rank2 <= 2n+1; sums < 8n^3 << 1e38);
    // double conversion is the FIRST inexact step on either engine
    val num = (n * sxy - sx * sy).toDouble
    val dx = (n * sxx - sx * sx).toDouble
    val dy = (n * syy - sy * sy).toDouble
    val rho = BigDecimal(num / (math.sqrt(dx) * math.sqrt(dy)))
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n.toLong, rho)).toDF("n", "rho")
  }

  /** Kendall tau-b between two BOUNDED-CARDINALITY columns via the joint
    * distinct-value histogram: cells (x, y, count) self-join under a
    * strict x-order (the cell frame is tiny — broadcast NLJ by
    * construction), concordant/discordant mass is an exact integral
    * cross product, ties come from the marginal histograms. One corpus
    * scan builds the cells; everything downstream touches only the
    * histogram. `maxCells` gates the contract — high-cardinality inputs
    * must be quantized (scale `scaleDigits`) first.
    * Returns one row (n, nc, nd, tau_b). */
  def kendallTau(df: DataFrame, colA: String, colB: String,
                 scaleDigits: Int = 2, maxCells: Long = 4096,
                 outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    def ic(c: String) = round(col(c).cast("double") * lit(unit)).cast("long")
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(ic(colA).as("x"), ic(colB).as("y"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val k = cells.count()
      require(k <= maxCells,
        s"kendallTau: $k distinct (x,y) cells exceed maxCells=$maxCells — " +
          "quantize the inputs (scaleDigits) before calling")
      // The cell histogram is contract-bounded (k <= maxCells, enforced
      // above), so everything after the one corpus aggregation is
      // driver arithmetic over <= maxCells rows: one collect replaces
      // the distinct-margin job, the k² broadcast-NLJ concordance job
      // (bench-measured ~13 CPU-seconds of per-row join overhead for a
      // ~50 ms integer loop) and the three margin/tie jobs
      // (optimization round 18). All sums are exact integers (BigInt ==
      // Spark's exact decimal(38,0) sums); the closing double algebra
      // is byte-identical to the distributed form the oracle mirrors.
      val cs = cells.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val dx = cs.map(_._1).distinct.length
      val dy = cs.map(_._2).distinct.length
      require(dx >= 2 && dy >= 2,
        "kendallTau: a constant margin leaves tau-b undefined " +
          s"(distinct x=$dx, y=$dy)")
      var ncB = BigInt(0)
      var ndB = BigInt(0)
      var i = 0
      while (i < cs.length) {
        var j = 0
        while (j < cs.length) {
          if (cs(i)._1 < cs(j)._1) {
            val m = BigInt(cs(i)._3) * BigInt(cs(j)._3)
            if (cs(i)._2 < cs(j)._2) ncB += m
            else if (cs(i)._2 > cs(j)._2) ndB += m
          }
          j += 1
        }
        i += 1
      }
      val nc = BigDecimal(ncB)
      val nd = BigDecimal(ndB)
      val n = BigDecimal(cs.map(c => BigInt(c._3)).sum)
      def tiePairs2(key: ((Long, Long, Long)) => Long): BigDecimal = {
        // 2 * sum_g C(t_g, 2) = sum_g t_g^2 - n, integral throughout
        val tg = cs.groupBy(key).values.map(g => g.map(c => BigInt(c._3)).sum)
        BigDecimal(tg.map(t => t * t).sum) - n
      }
      val tx2 = tiePairs2(_._1)
      val ty2 = tiePairs2(_._2)
      val n02 = n * (n - 1) // 2 * C(n,2)
      val den = math.sqrt((n02 - tx2).toDouble) * math.sqrt((n02 - ty2).toDouble)
      val tau = BigDecimal((nc - nd).toDouble * 2.0 / den)
        .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((n.toLong, nc.toLong, nd.toLong, tau)).toDF("n", "nc", "nd", "tau_b")
    } finally { cells.unpersist(false); () }
  }

  /** Welch's unequal-variance t-test of cent-scaled `valueCol` between
    * `groupA` and `groupB` of `groupCol`. One grouped aggregation of
    * exact decimal moments; means/variances/t/df come from one double
    * closed form (Welch–Satterthwaite), mirrored by the oracle.
    * Returns one row (n_a, n_b, mean_a, mean_b, t_stat, df_welch). */
  def welchTTest(df: DataFrame, valueCol: String, groupCol: String,
                 groupA: String, groupB: String,
                 scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val ic = round(col(valueCol).cast("double") * lit(unit))
      .cast("long").cast("decimal(38,0)")
    val m = df
      .filter(col(groupCol).isin(groupA, groupB) && col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(ic).as("s"), sum(ic * ic).as("ss"))
      .collect().map(r => r.getString(0) ->
        ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)),
          BigDecimal(r.getDecimal(3))))).toMap
    def stats(g: String): (Long, Double, Double) = {
      val (n, s, ss) = m.getOrElse(g,
        throw new IllegalArgumentException(s"group '$g' absent"))
      require(n > 1, s"group '$g' needs n > 1")
      val nd = n.toDouble
      val mean = s.toDouble / unit / nd
      // sample variance from exact integral moments, in original units
      val varS = (n * ss - s * s).toDouble / (unit * unit) / (nd * (nd - 1.0))
      (n.toLong, mean, varS)
    }
    val (na, ma, va) = stats(groupA)
    val (nb, mb, vb) = stats(groupB)
    val sa = va / na; val sb = vb / nb
    val t = (ma - mb) / math.sqrt(sa + sb)
    val dfW = (sa + sb) * (sa + sb) /
      (sa * sa / (na - 1.0) + sb * sb / (nb - 1.0))
    def r6(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((na, nb, r6(ma), r6(mb), r6(t), r6(dfW)))
      .toDF("n_a", "n_b", "mean_a", "mean_b", "t_stat", "df_welch")
  }

  /** One-way ANOVA F over `groupCol` — the k-sample mean-difference
    * test completing the two-sample [[welchTTest]]. Sufficient
    * statistics are exact decimal cent moments per group; SSB/SSW and
    * the F ratio are assembled on the driver from the BOUNDED group
    * list (sorted by group key, so the double summation order is a
    * deterministic sequence mirrored by the oracle's per-group CTE).
    * Returns one row (k_groups, n, f_stat, ln_ssb, ln_ssw) — the sums of
    * squares ln-encoded (the nulldev discipline), doubles rounded
    * once. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String,
             scaleDigits: Int = 2, maxGroups: Int = 1000,
             outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val ic = round(col(valueCol).cast("double") * lit(unit))
      .cast("long").cast("decimal(38,0)")
    val groups = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(ic).as("s"), sum(ic * ic).as("ss"))
      .collect()
      .map(r => (r.getString(0), BigDecimal(r.getDecimal(1)),
        BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3))))
      .sortBy(_._1)
    val k = groups.length
    require(k >= 2 && k <= maxGroups, s"need 2..$maxGroups groups, got $k")
    require(groups.forall(_._2 > 1), "every group needs n > 1")
    val nTot = groups.map(_._2).sum
    val sTot = groups.map(_._3).sum
    val u2 = unit * unit
    // deterministic left-to-right fold over the sorted groups
    var between = 0.0
    var within = 0.0
    groups.foreach { case (_, n, s, ss) =>
      val sg2 = (s * s).toDouble / n.toDouble
      between += sg2
      within += ss.toDouble - sg2
    }
    val ssb = (between - (sTot * sTot).toDouble / nTot.toDouble) / u2
    val ssw = within / u2
    // degenerate decompositions (all group means equal, or zero
    // within-group variance) have no finite ln_ssb/ln_ssw — fail with a
    // diagnostic instead of NumberFormatException from BigDecimal(±Inf)
    require(ssb > 0, "anovaF: all group means equal — ln_ssb undefined")
    require(ssw > 0, "anovaF: zero within-group variance — ln_ssw undefined")
    val f = (ssb / (k - 1.0)) / (ssw / (nTot.toDouble - k))
    def r6(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    // SS magnitudes grow with the data — ln-encode them (the nulldev
    // discipline) so rounding compares relative, not absolute, error
    Seq((k.toLong, nTot.toLong, r6(f), r6(math.log(ssb)), r6(math.log(ssw))))
      .toDF("k_groups", "n", "f_stat", "ln_ssb", "ln_ssw")
  }

  /** Kruskal–Wallis H — the k-sample rank test generalizing
    * [[Drift.mannWhitneyU]], for "did location shift anywhere among
    * these slices" without normality. Pooled ×2 midranks come from the
    * same distributed distinct-value prefix scan; per-group rank sums
    * and the tie term stay integral; H with tie correction is one
    * driver closed form over the bounded group list. Returns one row
    * (k_groups, n, h_stat). */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String,
                    maxGroups: Int = 1000, outDigits: Int = 6,
                    maxLocalCells: Long = 1L << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
    // bounded (group, value)-cell fast path (the [[spearman]]
    // rationale): per-group rank sums decompose over the distinct
    // cells, so one aggregation + collect replaces the pooled
    // rank-map chain, the value join and the tie aggregate; ranks,
    // sums and the tie term are the same exact integers and the
    // closed form below is shared verbatim
    def dd(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    var localTie: Option[BigDecimal] = None
    // like [[spearman]], the cell aggregation is not shared with the
    // distributed path, so pre-gate on the free plan-stats estimate;
    // the RDD-cached aggregate feeds both the cardinality gate and the
    // collect
    val localCells: Option[Array[(String, Double, Long)]] =
      if (Spread.smallByStats(rows, 128L << 20)) {
        val cellsRdd = rows.groupBy(col("g"), col("v"))
          .agg(count(lit(1)).as("cnt")).rdd
          .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (cellsRdd.count() <= maxLocalCells) Some(cellsRdd.collect())
          else None
        } finally cellsRdd.unpersist(blocking = false)
      } else None
    val perGroup: Array[(String, BigDecimal, BigDecimal)] =
      if (localCells.isDefined) {
        val cells = localCells.get
        val perV = scala.collection.mutable.HashMap.empty[Double, Long]
        cells.foreach { c => perV(c._2) = perV.getOrElse(c._2, 0L) + c._3 }
        val r2Of = {
          var cum = 0L
          perV.toArray.sortBy(_._1).map { case (v, t) =>
            val r2 = BigInt(2 * cum + t + 1)
            cum += t
            v -> r2
          }.toMap
        }
        var tieB = BigInt(0)
        perV.valuesIterator.foreach { t =>
          val tb = BigInt(t); tieB += tb * tb * tb - tb
        }
        localTie = Some(BigDecimal(tieB))
        val perG = scala.collection.mutable.HashMap
          .empty[String, (BigInt, BigInt)]
        cells.foreach { case (g, v, c) =>
          val cur = perG.getOrElse(g, (BigInt(0), BigInt(0)))
          perG(g) = (cur._1 + c, cur._2 + BigInt(c) * r2Of(v))
        }
        perG.toArray.map { case (g, (ng, r2)) =>
          (g, BigDecimal(ng), BigDecimal(r2))
        }.sortBy(_._1)
      } else {
        val ranks = rank2Map(rows.select(col("v").as("a")), "a")
          .withColumnRenamed("v", "vv")
        val joined = rows.join(ranks, rows("v") === ranks("vv"))
        joined.groupBy(col("g"))
          .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
            sum(dd(col("rank2"))).as("r2"))
          .collect()
          .map(r => (r.getString(0), BigDecimal(r.getDecimal(1)),
            BigDecimal(r.getDecimal(2))))
          .sortBy(_._1)
      }
    val k = perGroup.length
    require(k >= 2 && k <= maxGroups, s"need 2..$maxGroups groups, got $k")
    // tie term from the distinct-value counts: sum t^3 - t
    val tie = localTie.getOrElse {
      val tieRow = rows.groupBy(col("v")).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(dd(col("t")) * dd(col("t")) * dd(col("t"))
          - dd(col("t"))), lit(0L).cast("decimal(38,0)"))).head()
      BigDecimal(tieRow.getDecimal(0))
    }
    val n = perGroup.map(_._2).sum
    require(n > 1, "need n > 1")
    // H = 12/(N(N+1)) * sum (R_g^2 / n_g) - 3(N+1), with R_g = r2/2;
    // deterministic left-to-right fold over the sorted groups
    var sumR = 0.0
    perGroup.foreach { case (_, ng, r2) =>
      val rg = r2.toDouble / 2.0
      sumR += rg * rg / ng.toDouble
    }
    val nD = n.toDouble
    val h0 = 12.0 / (nD * (nD + 1.0)) * sumR - 3.0 * (nD + 1.0)
    val corr = 1.0 - tie.toDouble / (nD * nD * nD - nD)
    val h = BigDecimal(h0 / corr)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((k.toLong, n.toLong, h)).toDF("k_groups", "n", "h_stat")
  }

  /** Benford's-law expected first-digit probabilities, rounded to 12
    * places so both engines consume identical double LITERALS instead
    * of each calling its own log10. */
  val benfordPpt: Seq[(Int, Double)] = Seq(
    1 -> 0.301029995664, 2 -> 0.176091259056, 3 -> 0.124938736608,
    4 -> 0.096910013008, 5 -> 0.079181246048, 6 -> 0.066946789631,
    7 -> 0.057991946978, 8 -> 0.051152522447, 9 -> 0.045757490561)

  /** Benford first-significant-digit audit of a positive money column:
    * the classic fabricated-data / corrupt-feed detector. The digit is
    * extracted from the DECIMAL STRING of the cent-scaled integer —
    * exact and identical on any engine (no log10 on data). Returns 9
    * rows (digit, n_obs, obs_ppm, chi_term) where obs_ppm is the
    * floored parts-per-million share and chi_term the (obs−exp)²/exp
    * contribution; Σ chi_term is the audit's χ² statistic. One scan,
    * one 9-group aggregate. */
  def benford(df: DataFrame, valueCol: String,
              scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val cents = round(col(valueCol).cast("double") * lit(unit)).cast("long")
    val counts = df
      .filter(col(valueCol).isNotNull && cents > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val digits = benfordPpt.toDF("digit", "p_exp")
    val total = counts.agg(sum(col("n_obs")).as("n_total"))
    digits.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(total)
      .select(col("digit"), col("n_obs"),
        // floored ppm share: integral on both engines (non-negative, so
        // Spark's truncating div == DuckDB's flooring //)
        expr("(n_obs * 1000000) div n_total").as("obs_ppm"),
        round(
          (col("n_obs").cast("double") - col("n_total").cast("double") * col("p_exp")) *
            (col("n_obs").cast("double") - col("n_total").cast("double") * col("p_exp")) /
            (col("n_total").cast("double") * col("p_exp")), outDigits).as("chi_term"))
      .orderBy("digit")
  }

  /** Sample-ratio-mismatch guardrail: z-score of the observed variant
    * split against the designed allocation `pA` — the first check any
    * experiment readout must pass (a failed SRM invalidates every
    * downstream metric). Exact integer counts, one double closed
    * form. Returns (n_a, n_b, z_srm). */
  def srmCheck(df: DataFrame, variantACol: org.apache.spark.sql.Column,
               pA: Double = 0.5, outDigits: Int = 6): DataFrame = {
    require(pA > 0 && pA < 1, "pA must be in (0,1)")
    val spark = df.sparkSession
    import spark.implicits._
    val r = df.agg(
      sum(variantACol.cast("long")).as("na"),
      count(lit(1)).as("n")).head()
    val na = r.getLong(0); val n = r.getLong(1)
    require(n > 0, "no rows")
    val z = BigDecimal((na.toDouble - n.toDouble * pA) /
      math.sqrt(n.toDouble * pA * (1.0 - pA)))
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((na, n - na, z)).toDF("n_a", "n_b", "z_srm")
  }

  /** Difference-in-differences: the (treated post − treated pre) −
    * (control post − control pre) effect estimate over an event
    * stream split at `splitDays` after the corpus min date — the
    * quasi-experimental companion to [[cuped]] when assignment isn't
    * randomized but trends are parallel. One grouped cent-moment pass
    * over the four (variant × period) cells; means and the DiD are
    * exact-moment doubles rounded once. Returns one row
    * (n_t, n_c, m_t_pre, m_t_post, m_c_pre, m_c_post, did). */
  def diffInDiff(events: DataFrame, tsCol: String, valueCol: String,
                 treatedCol: org.apache.spark.sql.Column,
                 splitDays: Int = 15, scaleDigits: Int = 2,
                 outDigits: Int = 6): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val base = events.filter(col(valueCol).isNotNull && col(tsCol).isNotNull)
    val minDay = base.agg(min(to_date(col(tsCol)))).head().getDate(0)
    val vc = round(col(valueCol).cast("double") * lit(unit)).cast("long")
    val cells = base
      .groupBy(treatedCol.cast("long").as("t"),
        (datediff(to_date(col(tsCol)), lit(minDay)) < lit(splitDays))
          .cast("long").as("pre"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(vc.cast("decimal(38,0)")).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3))))).toMap
    def mean(t: Long, pre: Long): Double = {
      val (n, s) = cells.getOrElse((t, pre),
        throw new IllegalArgumentException(s"empty cell (t=$t, pre=$pre)"))
      s.toDouble / unit / n.toDouble
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (mtp, mtq) = (mean(1, 1), mean(1, 0))
    val (mcp, mcq) = (mean(0, 1), mean(0, 0))
    val nT = (cells((1L, 1L))._1 + cells((1L, 0L))._1).toLong
    val nC = (cells((0L, 1L))._1 + cells((0L, 0L))._1).toLong
    Seq((nT, nC, r6(mtp), r6(mtq), r6(mcp), r6(mcq),
      r6((mtq - mtp) - (mcq - mcp))))
      .toDF("n_t", "n_c", "m_t_pre", "m_t_post", "m_c_pre", "m_c_post", "did")
  }

  /** CUPED variance reduction (Deng et al. 2013): adjust an
    * experiment's post-period metric by its pre-period covariate,
    * theta = cov(pre, post) / var(pre) pooled over ALL users, then
    * per-variant adjusted mean = mean(post) − theta·(mean(pre) −
    * mean_all(pre)). Users aggregate once (pre/post cent sums from one
    * conditional pass over the event scan); moments are exact decimals
    * per variant and the pooled row is the sum of the per-variant rows
    * — no second scan. Returns one row per variant:
    * (variant, n_users, mean_post, mean_adj, theta). */
  def cuped(events: DataFrame, userCol: String, tsCol: String,
            valueCol: String, variantCol: org.apache.spark.sql.Column,
            splitDays: Int = 15, scaleDigits: Int = 2,
            outDigits: Int = 6): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val base = events.filter(col(valueCol).isNotNull)
    val minDay = base.agg(min(to_date(col(tsCol)))).head().getDate(0)
    val vc = round(col(valueCol).cast("double") * lit(unit)).cast("long")
    val isPre = datediff(to_date(col(tsCol)), lit(minDay)) < lit(splitDays)
    val users = base
      .groupBy(col(userCol).as("u"))
      .agg(first(variantCol).as("variant"),
        sum(when(isPre, vc).otherwise(0L)).as("pre_c"),
        sum(when(!isPre, vc).otherwise(0L)).as("post_c"))
    def d(c: String) = col(c).cast("decimal(38,0)")
    val perVar = users.groupBy(col("variant"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(d("pre_c")).as("sx"), sum(d("post_c")).as("sy"),
        sum(d("pre_c") * d("pre_c")).as("sxx"),
        sum(d("pre_c") * d("post_c")).as("sxy"))
      .collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDecimal(1)),
        BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3)),
        BigDecimal(r.getDecimal(4)), BigDecimal(r.getDecimal(5))))
      .sortBy(_._1)
    val n = perVar.map(_._2).sum
    val sx = perVar.map(_._3).sum
    val sy = perVar.map(_._4).sum
    val sxx = perVar.map(_._5).sum
    val sxy = perVar.map(_._6).sum
    // pooled theta and overall pre mean in cents — one double each
    val theta = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val preAll = sx.toDouble / n.toDouble
    def r6(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = perVar.map { case (v, nv, sxv, syv, _, _) =>
      val meanPost = syv.toDouble / nv.toDouble
      val meanPre = sxv.toDouble / nv.toDouble
      (v, nv.toLong, r6(meanPost / unit),
        r6((meanPost - theta * (meanPre - preAll)) / unit),
        r6(theta))
    }
    rows.toSeq.toDF("variant", "n_users", "mean_post", "mean_adj", "theta")
  }

  /** Cronbach's alpha internal-consistency coefficient over k numeric
    * item columns: α = k/(k−1)·(1 − Σσ²_i / σ²_total), population
    * variances, σ²_total the variance of the row sum — the standard
    * "do these measurements hang together" reliability check before
    * averaging feature columns into a score. ONE aggregation computes
    * every item moment and the row-sum moments in exact cents
    * (decimal(38,0)); driver closed form. */
  def cronbachAlpha(df: DataFrame, itemCols: Seq[String],
                    scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    require(itemCols.size >= 2, "cronbachAlpha needs at least 2 items")
    val spark = df.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val k = itemCols.size
    def ic(c: String) = round(col(c).cast("double") * lit(unit))
      .cast("long").cast("decimal(38,0)")
    val tot = itemCols.map(ic).reduce(_ + _)
    val base = df.filter(itemCols.map(col(_).isNotNull).reduce(_ && _))
    val aggs = count(lit(1)).cast("decimal(38,0)").as("n") +:
      (itemCols.flatMap(c => Seq(sum(ic(c)).as(s"s_$c"),
        sum(ic(c) * ic(c)).as(s"ss_$c"))) ++
        Seq(sum(tot).as("st"), sum(tot * tot).as("stt")))
    val r = base.agg(aggs.head, aggs.tail: _*).head()
    val n = BigDecimal(r.getDecimal(0))
    require(n > 1, "cronbachAlpha needs n > 1 rows")
    // population variance from exact moments: (n·ss − s²)/n²
    def varOf(s: BigDecimal, ss: BigDecimal): Double =
      (n * ss - s * s).toDouble / (n * n).toDouble
    var itemVarSum = 0.0
    itemCols.zipWithIndex.foreach { case (_, i) =>
      itemVarSum += varOf(BigDecimal(r.getDecimal(1 + 2 * i)),
        BigDecimal(r.getDecimal(2 + 2 * i)))
    }
    val totVar = varOf(BigDecimal(r.getDecimal(1 + 2 * k)),
      BigDecimal(r.getDecimal(2 + 2 * k)))
    require(totVar > 0, "cronbachAlpha: zero total variance")
    val alpha = BigDecimal(
      k.toDouble / (k - 1.0) * (1.0 - itemVarSum / totVar))
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n.toLong, k.toLong, alpha)).toDF("n", "k_items", "alpha")
  }

  /** One-way intraclass correlation ICC(1) — how much of the variance
    * lives BETWEEN groups: (MSB − MSW)/(MSB + (n₀−1)·MSW) with the
    * unbalanced-design mean group size n₀ = (N − Σn_j²/N)/(k−1). The
    * clustered-data diagnostic (rater/cluster agreement; design
    * effects for A/B units). Rides the anovaF integral moments:
    * one grouped aggregation, driver closed form. */
  def iccOneWay(df: DataFrame, groupCol: String, valueCol: String,
                scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val ic = round(col(valueCol).cast("double") * lit(unit))
      .cast("long").cast("decimal(38,0)")
    val groups = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(ic).as("s"), sum(ic * ic).as("ss"))
      .collect()
      .map(r => (r.getString(0), BigDecimal(r.getDecimal(1)),
        BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3))))
      .sortBy(_._1)
    val k = groups.length
    require(k >= 2, "iccOneWay needs at least 2 groups")
    require(groups.forall(_._2 > 1), "every group needs n > 1")
    val nTot = groups.map(_._2).sum
    val sTot = groups.map(_._3).sum
    var q = 0.0
    var ssSum = 0.0
    var nsq = BigDecimal(0)
    groups.foreach { case (_, n0, s, ss) =>
      q += (s * s).toDouble / n0.toDouble
      ssSum += ss.toDouble
      nsq += n0 * n0
    }
    val ssb = q - (sTot * sTot).toDouble / nTot.toDouble
    val ssw = ssSum - q
    require(ssw > 0, "iccOneWay: zero within-group variance")
    val msb = ssb / (k - 1.0)
    val msw = ssw / (nTot.toDouble - k)
    val nZero = (nTot.toDouble - nsq.toDouble / nTot.toDouble) / (k - 1.0)
    val icc = BigDecimal((msb - msw) / (msb + (nZero - 1.0) * msw))
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((k.toLong, nTot.toLong, r6(nZero), icc))
      .toDF("k_groups", "n", "n0", "icc")
  }

  /** Cliff's delta ordinal effect size between two samples:
    * δ = (#{a > b} − #{a < b}) / (n_a·n_b), ties contributing zero —
    * identical to the rank-biserial correlation of the Mann–Whitney U.
    * Rides [[Drift.mannWhitneyU]]'s integral midrank scan: its `u2`
    * is exactly 2·U_a (ties as ½, doubled to stay in longs), so
    * δ = (u2 − n_a·n_b) / (n_a·n_b) with an all-integral numerator —
    * the one double division happens at output. Same 100 TB shape as
    * the U test itself (range-partitioned prefix scan, no all-pairs). */
  def cliffsDelta(a: DataFrame, b: DataFrame, valueCol: String,
                  outDigits: Int = 6): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val r = Drift.mannWhitneyU(a, b, valueCol, outDigits).head()
    val na = r.getLong(0); val nb = r.getLong(1); val u2 = r.getLong(2)
    val num = BigInt(u2) - BigInt(na) * nb
    val delta = BigDecimal(num.toDouble / (na.toDouble * nb))
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((na, nb, u2, delta)).toDF("n_a", "n_b", "u2", "cliffs_delta")
  }

  /** Cohen's d and Hedges' g standardized mean difference between two
    * groups of `groupCol`, from exact integral moments (cent-scaled
    * sums in decimal(38,0)) — pooled-variance d, small-sample-corrected
    * g = d·(1 − 3/(4(n_a+n_b) − 9)). One grouped aggregation; driver
    * closed form. */
  def effectSize(df: DataFrame, valueCol: String, groupCol: String,
                 groupA: String, groupB: String,
                 scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val ic = round(col(valueCol).cast("double") * lit(unit))
      .cast("long").cast("decimal(38,0)")
    val m = df
      .filter(col(groupCol).isin(groupA, groupB) && col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(ic).as("s"), sum(ic * ic).as("ss"))
      .collect().map(r => r.getString(0) ->
        ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)),
          BigDecimal(r.getDecimal(3))))).toMap
    def stats(g: String): (Long, Double, Double) = {
      val (n, s, ss) = m.getOrElse(g,
        throw new IllegalArgumentException(s"group '$g' absent"))
      require(n > 1, s"group '$g' needs n > 1")
      val nd = n.toDouble
      val mean = s.toDouble / unit / nd
      val varS = (n * ss - s * s).toDouble / (unit * unit) / (nd * (nd - 1.0))
      (n.toLong, mean, varS)
    }
    val (na, ma, va) = stats(groupA)
    val (nb, mb, vb) = stats(groupB)
    val sp = math.sqrt(((na - 1.0) * va + (nb - 1.0) * vb) / (na + nb - 2.0))
    val d0 = (ma - mb) / sp
    val g0 = d0 * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0))
    def r6(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((na, nb, r6(ma), r6(mb), r6(d0), r6(g0)))
      .toDF("n_a", "n_b", "mean_a", "mean_b", "cohens_d", "hedges_g")
  }

  /** Brown–Forsythe test (Levene with the MEDIAN center — the robust
    * default) for homogeneity of variance across all groups of
    * `groupCol`:
    *   W = ((N−k)/(k−1)) · Σ_j n_j(z̄_j − z̄)² / Σ_ij (z_ij − z̄_j)²
    * with z_ij = |x_ij − median_j|. Exactness: values go to cents; the
    * per-group median doubles exactly onto the integer grid (sum of the
    * two middle cents), so z2 = |2x − 2·med| is a LONG and every W term
    * derives from integral (n_j, Σz2, Σz2²) — the 2× scale cancels in
    * the ratio. Two grouped aggregations + one broadcast-size join;
    * per-group medians ride Spark's exact `percentile`. */
  def leveneTest(df: DataFrame, groupCol: String, valueCol: String,
                 scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val ic = round(col(valueCol).cast("double") * lit(unit)).cast("long")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), ic.as("x"))
    val med2 = base.groupBy("g")
      .agg(round(percentile(col("x"), lit(0.5)) * lit(2)).cast("long").as("m2"))
    val z = base.join(broadcast(med2), "g")
      .select(col("g"), abs(col("x") * lit(2) - col("m2")).as("z2"))
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val per = z.groupBy("g")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(d(col("z2"))).as("s"), sum(d(col("z2")) * d(col("z2"))).as("ss"))
      .collect()
      .map(r => (r.get(0).toString, BigDecimal(r.getDecimal(1)),
        BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3))))
      .sortBy(_._1)
    val k = per.length
    require(k >= 2, "leveneTest needs at least 2 groups")
    require(per.forall(_._2 > 1), "every group needs n > 1")
    val nTot = per.map(_._2).sum
    val sTot = per.map(_._3).sum
    // between = Σ S_j²/n_j − T²/N; within = Σss − Σ S_j²/n_j — the
    // anovaF decomposition on |x − med| with a deterministic
    // left-to-right fold over the name-sorted groups
    var q = 0.0
    var ssSum = 0.0
    per.foreach { case (_, n, s, ss) =>
      q += (s * s).toDouble / n.toDouble
      ssSum += ss.toDouble
    }
    val between = q - (sTot * sTot).toDouble / nTot.toDouble
    val within = ssSum - q
    require(between > 0, "leveneTest: all group mean deviations equal")
    require(within > 0, "leveneTest: zero within-group spread")
    val w = (nTot.toDouble - k) / (k - 1.0) * between / within
    def r6(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((k.toLong, nTot.toLong, k - 1L, nTot.toLong - k, r6(w)))
      .toDF("k_groups", "n", "df1", "df2", "w_stat")
  }

  /** Per-group trimmed mean: drop the ⌊n·trimFrac⌋ smallest and largest
    * values, average the rest — the robust location estimate quality
    * pipelines use where winsorizing (clamping) is too forgiving of
    * heavy tails. Ties are safe: row_number picks an arbitrary k-subset
    * of a tied value but any k smallest/largest multiset has the same
    * sum, so the result is deterministic. Two rank windows per group —
    * the same per-group-sort shape as the exact percentile board. */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  trimFrac: Double = 0.1, scaleDigits: Int = 2,
                  outDigits: Int = 6): DataFrame = {
    require(trimFrac >= 0 && trimFrac < 0.5, "trimFrac must be in [0, 0.5)")
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    val unit = math.pow(10, scaleDigits)
    val ic = round(col(valueCol).cast("double") * lit(unit)).cast("long")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), ic.as("x"))
    val wAsc = Window.partitionBy("g").orderBy(col("x").asc)
    // ONE rank order per group; the descending rank is its complement
    // (n+1−ra), NOT an independent desc window — with ties two
    // independent row_number orders need not be reverse-consistent, so
    // the kept count would become nondeterministic
    val ranked = base
      .withColumn("ra", row_number().over(wAsc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
      .withColumn("rd", col("n") + 1 - col("ra"))
    val kept = ranked
      .withColumn("cut", floor(col("n") * lit(trimFrac)))
      .filter(col("ra") > col("cut") && col("rd") > col("cut"))
    kept.groupBy("g")
      .agg(max(col("n")).as("n"), count(lit(1)).as("kept"),
        sum(col("x").cast("decimal(38,0)")).as("s"))
      .select(col("g").as(groupCol), col("n"), col("kept"),
        round(col("s").cast("double") / col("kept").cast("double") /
          lit(unit), outDigits).as("trimmed_mean"))
  }

  /** McNemar test on PAIRED binary outcomes (one pair per key): did
    * the same population flip between two conditions — the A/B
    * companion for within-subject designs where the two-proportion
    * z-test is wrong. χ² = (n10 − n01)² / (n10 + n01) over the
    * discordant counts (no continuity correction — document and test
    * against the exact same form). One grouped max per key + one
    * 4-cell rollup, all integral until the final division. Returns
    * (n_pairs, n10, n01, chi2). */
  def mcnemar(df: DataFrame, keyCol: String, condA: org.apache.spark.sql.Column,
              condB: org.apache.spark.sql.Column,
              outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val per = df.groupBy(col(keyCol))
      .agg(coalesce(max(condA.cast("int")), lit(0)).as("a"),
        coalesce(max(condB.cast("int")), lit(0)).as("b"))
    val r = per.agg(count(lit(1)),
      sum(((col("a") === 1) && (col("b") === 0)).cast("long")),
      sum(((col("a") === 0) && (col("b") === 1)).cast("long"))).head()
    val n = r.getLong(0); val n10 = r.getLong(1); val n01 = r.getLong(2)
    require(n10 + n01 > 0, "mcnemar: no discordant pairs — test undefined")
    val d = n10 - n01
    val chi2 = BigDecimal(
      (d.toDouble * d.toDouble) / (n10 + n01).toDouble)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n, n10, n01, chi2)).toDF("n_pairs", "n10", "n01", "chi2")
  }

  /** Durbin–Watson statistic of a daily-total series' deviation from
    * its mean: DW = Σ_{t≥2}(e_t − e_{t−1})² / Σ e_t², e_t = y_t − ȳ —
    * the classic lag-1 autocorrelation diagnostic (DW ≈ 2(1−ρ)). All
    * arithmetic is integral: with day totals y_t in cents and N days,
    * e'_t = N·y_t − S is a BigInt and DW = Σ(Δe')²/Σe'² (the N scale
    * cancels). One grouped aggregation to the calendar-bounded day
    * grid; the bounded series finishes on the driver. */
  def durbinWatson(events: DataFrame, tsCol: String, valueCol: String,
                   scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val unit = math.pow(10, scaleDigits)
    val ic = round(col(valueCol).cast("double") * lit(unit)).cast("long")
    // project the date away before collect: only the longs cross the
    // driver boundary (and DateType decoding differs across session
    // datetime configs — the Bench session tripped on it)
    val days = events.filter(col(valueCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("d"))
      .agg(sum(ic).as("y"))
      .orderBy("d").select("y")
      .collect().map(r => BigInt(r.getLong(0)))
    val n = days.length
    require(n >= 3, "durbinWatson needs at least 3 days")
    val s = days.sum
    val e = days.map(y => y * n - s)
    val den = e.map(v => v * v).sum
    require(den != 0, "series is constant; DW undefined")
    val num = e.sliding(2).map { case Array(a, b) => (b - a) * (b - a) }.sum
    val dw = BigDecimal(num.toDouble / den.toDouble)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n.toLong, dw)).toDF("n_days", "dw")
  }

  /** G-test (log-likelihood-ratio test) of independence between two
    * categorical columns. The same shape as [[Analytics.chiSquare]]:
    * exact joint/marginal counts, one double term per OBSERVED cell
    * (zero cells contribute exactly 0 to G — no absorption term is
    * needed), each term rounded to 9 dp and summed in decimal(38,9) so
    * the total is independent of partition merge order (the micro-unit
    * idiom). Returns one row (n, dof, g_stat). */
  def gTest(df: DataFrame, colA: String, colB: String,
            outDigits: Int = 6): DataFrame = {
    val base = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .select(col(colA).as("__a"), col(colB).as("__b"))
      .localCheckpoint(false)
    val n = base.count()
    require(n > 0, "no non-null rows")
    val joint = base.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("n_ab"))
    val ma = base.groupBy(col("__a")).agg(count(lit(1)).as("n_a"))
    val mb = base.groupBy(col("__b")).agg(count(lit(1)).as("n_b"))
    val ka = ma.count(); val kb = mb.count()
    val dof = (ka - 1) * (kb - 1)
    val nd = n.toDouble
    val term = col("n_ab").cast("double") *
      log(col("n_ab").cast("double") * lit(nd) /
        (col("n_a").cast("double") * col("n_b").cast("double")))
    val g = joint.join(ma, "__a").join(mb, "__b")
      .select(round(term, 9).as("__t"))
      .agg((sum(col("__t").cast("decimal(38,9)")) * 2).as("__g"))
    g.select(lit(n).as("n"), lit(dof).as("dof"),
      round(col("__g"), outDigits).cast("double").as("g_stat"))
  }

  /** Per-group Jarque–Bera normality statistic from exact integral
    * power sums: cent-scaled values are summed through the 4th power in
    * decimal(38,0) (cents^4 · rows must stay under 1e38 — values to
    * ~1e5 in units leave headroom past sf100), then ONE double closed
    * form produces skewness / excess kurtosis / JB. The standardized
    * moments are scale-invariant, so the cent unit cancels everywhere
    * except the reported mean. Fully distributed — one grouped
    * aggregation, no collect. */
  def jarqueBera(df: DataFrame, valueCol: String, groupCol: String,
                 scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val unit = math.pow(10, scaleDigits)
    val ic = round(col(valueCol).cast("double") * lit(unit))
      .cast("long").cast("decimal(38,0)")
    val ic2 = ic * ic
    val m = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"), sum(ic).as("s1"),
        sum(ic2).as("s2"), sum(ic2 * ic).as("s3"), sum(ic2 * ic2).as("s4"))
    val nd = col("n").cast("double")
    val m1 = col("s1").cast("double") / nd
    val r2 = col("s2").cast("double") / nd
    val r3 = col("s3").cast("double") / nd
    val r4 = col("s4").cast("double") / nd
    val mu2 = r2 - m1 * m1
    val mu3 = r3 - lit(3.0) * m1 * r2 + lit(2.0) * m1 * m1 * m1
    val mu4 = r4 - lit(4.0) * m1 * r3 + lit(6.0) * m1 * m1 * r2 -
      lit(3.0) * m1 * m1 * m1 * m1
    val skew = mu3 / (mu2 * sqrt(mu2))
    val exk = mu4 / (mu2 * mu2) - lit(3.0)
    val jb = nd / lit(6.0) * (skew * skew + exk * exk / lit(4.0))
    m.select(col("g"), col("n").cast("long").as("n"),
        round(m1 / lit(unit), outDigits).as("mean"),
        round(skew, outDigits).as("skewness"),
        round(exk, outDigits).as("ex_kurtosis"),
        round(jb, outDigits).as("jb"))
      .orderBy("g")
  }

  /** Per-group Grubbs outlier statistic G = max|x−mean| / sd. The
    * deviation ranking stays EXACT: d = |x_c·n − s1| is integral
    * decimal per row, its per-group max is order-free, and only the
    * closed-form finish converts to double (unit cancels in G). Ties at
    * the max are reported as a count (`n_at_max`) instead of an
    * arbitrary representative. Two broadcast joins against the bounded
    * group-stats table; the row scan stays distributed. */
  def grubbs(df: DataFrame, valueCol: String, groupCol: String,
             scaleDigits: Int = 2, outDigits: Int = 6): DataFrame = {
    val unit = math.pow(10, scaleDigits)
    val ic = round(col(valueCol).cast("double") * lit(unit))
      .cast("long").cast("decimal(38,0)")
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), ic.as("xc"))
      .localCheckpoint(false)
    val stats = base.groupBy("g")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("xc")).as("s1"), sum(col("xc") * col("xc")).as("s2"))
    val dCol = abs(col("xc") * col("n") - col("s1"))
    val dmax = base.join(broadcast(stats), "g")
      .select(col("g"), dCol.as("d"))
      .groupBy("g").agg(max(col("d")).as("dmax"),
        count(lit(1)).as("__nr"))
    val atMax = base.join(broadcast(stats), "g")
      .join(broadcast(dmax.select("g", "dmax")), "g")
      .filter(dCol === col("dmax"))
      .groupBy("g").agg(count(lit(1)).as("n_at_max"))
    val nd = col("n").cast("double")
    // sample variance in cents² from exact moments
    val varC = (col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
      (nd * (nd - lit(1.0)))
    stats.join(dmax.select("g", "dmax"), "g").join(atMax, "g")
      .select(col("g"), col("n").cast("long").as("n"),
        round(col("s1").cast("double") / nd / lit(unit), outDigits).as("mean"),
        round(sqrt(varC) / lit(unit), outDigits).as("sd"),
        round(col("dmax").cast("double") / nd / sqrt(varC), outDigits)
          .as("g_stat"),
        col("n_at_max"))
      .orderBy("g")
  }

  /** Multiple-testing correction across a family of hypotheses:
    * Benjamini–Hochberg step-up (FDR) and Holm step-down (FWER)
    * adjusted p-values. Ranks come from [[Ranking.globalRank]]'s
    * two-pass range-partitioned scan (ties broken by the key, so the
    * order is total and deterministic); the suffix-min (BH) and
    * prefix-max (Holm) run as ONE more pass over the same range
    * partitioning with per-partition extrema broadcast as offsets —
    * no stage buffers more than its range slice, so the family can be
    * millions of hypotheses. Returns (key, p_raw, rank, p_bh, p_holm),
    * adjusted values capped at 1. */
  def fdrCorrect(df: DataFrame, keyCol: String, pCol: String,
                 outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(keyCol).cast("string").as("k"),
        col(pCol).cast("double").as("p"))
      .filter(col("p").isNotNull)
    val m = base.count()
    require(m > 0, "empty hypothesis family")
    val ranked = Ranking.globalRank(base, Seq(col("p"), col("k")), 1)
      .select(col("k"), col("p"), col("rank"))
    val scored = ranked
      .withColumn("q", col("p") * lit(m) / col("rank"))
      .withColumn("h", col("p") * (lit(m) - col("rank") + lit(1L)))
    val rr = scored.repartitionByRange(col("rank"))
      .sortWithinPartitions("rank")
      .select("k", "p", "rank", "q", "h").rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nParts = math.max(rr.getNumPartitions, 1)
    val extrema = rr.mapPartitionsWithIndex { (i, it) =>
      var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
      it.foreach { r => mn = math.min(mn, r.getDouble(3))
        mx = math.max(mx, r.getDouble(4)) }
      Iterator((i, mn, mx))
    }.collect().sortBy(_._1)
    val minQ = Array.fill(nParts)(Double.PositiveInfinity)
    val maxH = Array.fill(nParts)(Double.NegativeInfinity)
    extrema.foreach { case (i, mn, mx) => minQ(i) = mn; maxH(i) = mx }
    // sufAfter(i) = min q over partitions > i; prefBefore(i) = max h < i
    val sufAfter = new Array[Double](nParts)
    val prefBefore = new Array[Double](nParts)
    var accMin = Double.PositiveInfinity
    for (i <- (nParts - 1) to 0 by -1) { sufAfter(i) = accMin
      accMin = math.min(accMin, minQ(i)) }
    var accMax = Double.NegativeInfinity
    for (i <- 0 until nParts) { prefBefore(i) = accMax
      accMax = math.max(accMax, maxH(i)) }
    val bcSuf = spark.sparkContext.broadcast(sufAfter)
    val bcPre = spark.sparkContext.broadcast(prefBefore)
    val digits = outDigits
    val out = rr.mapPartitionsWithIndex { (i, it) =>
      val rows = it.toArray
      def r6(x: Double) = BigDecimal(math.min(x, 1.0))
        .setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble
      val bh = new Array[Double](rows.length)
      var sm = bcSuf.value(i)
      for (j <- rows.indices.reverse) {
        sm = math.min(sm, rows(j).getDouble(3)); bh(j) = sm
      }
      var pm = bcPre.value(i)
      rows.indices.iterator.map { j =>
        pm = math.max(pm, rows(j).getDouble(4))
        (rows(j).getString(0),
          BigDecimal(rows(j).getDouble(1))
            .setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble,
          rows(j).getLong(2), r6(bh(j)), r6(pm))
      }
    }.toDF("k", "p_raw", "rank", "p_bh", "p_holm")
    out.withColumnRenamed("k", keyCol)
  }

  /** Friedman test — the repeated-measures rank ANOVA (k treatments
    * ranked WITHIN each block): does any treatment stochastically
    * dominate once block effects are removed? Blocks missing any
    * treatment drop (reported). Within-block DOUBLED midranks
    * r2 = 2·rank_min + t − 1 keep every sum integral, and the
    * tie-corrected statistic is the exact integer ratio
    * χ² = (k−1)·Σ_j (R2_j − n(k+1))² / (Σ r2² − n·k·(k+1)²)
    * (the Conover form with numerator and denominator scaled ×4) —
    * ONE IEEE division at the end. Ranks run in k-bounded per-block
    * windows (never corpus-wide). Returns one row
    * (n_blocks, k, n_dropped, chi2). */
  def friedmanTest(df: DataFrame, blockCol: org.apache.spark.sql.Column,
                   treatCol: org.apache.spark.sql.Column,
                   valueCol: org.apache.spark.sql.Column,
                   outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cells = df.select(blockCol.cast("string").as("b"),
        treatCol.cast("string").as("tr"), valueCol.cast("long").as("v"))
      .filter(col("b").isNotNull && col("tr").isNotNull && col("v").isNotNull)
      .groupBy("b", "tr").agg(sum(col("v")).as("v"))
      .localCheckpoint(false) // k-count + block filter + ranks share it
    val k = cells.select(col("tr")).distinct().count()
    require(k >= 2, "need at least two treatments")
    val sized = cells.withColumn("cnt",
      count(lit(1)).over(Window.partitionBy(col("b"))))
    val nDropped = sized.filter(col("cnt") =!= k)
      .select(col("b")).distinct().count()
    val kept = sized.filter(col("cnt") === k)
    val ranked = kept
      .withColumn("rmin",
        rank().over(Window.partitionBy(col("b")).orderBy(col("v"))))
      .withColumn("t",
        count(lit(1)).over(Window.partitionBy(col("b"), col("v"))))
      .withColumn("r2", lit(2L) * col("rmin") + col("t") - 1L)
    val perTreat = ranked.groupBy("tr").agg(sum(col("r2")).as("r2j"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val tot = ranked.agg(
        sum(col("r2") * col("r2")).as("a2x4"),
        countDistinct(col("b")).as("n")).head()
    val a2x4 = tot.getLong(0)
    val n = tot.getLong(1)
    require(n > 0, "no complete blocks")
    val nk1 = n * (k + 1)
    val num = BigInt(k - 1) *
      perTreat.map { case (_, r2j) => BigInt(r2j - nk1) * BigInt(r2j - nk1) }.sum
    val denom = BigInt(a2x4) - BigInt(n) * BigInt(k) * BigInt((k + 1) * (k + 1))
    require(denom > 0, "all values tied within every block — no variance")
    val chi2 = num.toDouble / denom.toDouble
    def rd(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    Seq((n, k, nDropped, rd(chi2)))
      .toDF("n_blocks", "k", "n_dropped", "chi2")
  }

  /** Cochran–Mantel–Haenszel test of conditional independence across
    * K strata of 2×2 tables (the stratified A/B guardrail: does the
    * exposure–outcome association survive controlling for the
    * stratifier?), plus the MH pooled odds ratio. Per stratum with
    * margins (n1k = exposed, m1k = outcomes, nk = total) and exposed-
    * outcome cell a_k: E_k = n1k·m1k/nk,
    * V_k = n1k·n0k·m1k·m0k/(nk²(nk−1)); the CMH statistic
    * (Σa − ΣE)²/ΣV is chi²(1); OR_MH = Σ(a·d/n)/Σ(b·c/n). ONE grouped
    * aggregation to the stratum-bounded table (integer cells), then
    * fixed IEEE arithmetic over a SORTED-stratum fold both engines
    * replay. Degenerate strata (a margin of 0, or nk < 2) contribute
    * nothing, the standard convention. Returns one row
    * (n_strata, a_total, e_total, v_total, cmh_chi2, or_mh). */
  def cmhTest(df: DataFrame, stratumCol: org.apache.spark.sql.Column,
              exposedCol: org.apache.spark.sql.Column,
              outcomeCol: org.apache.spark.sql.Column,
              outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.select(stratumCol.cast("string").as("s"),
        exposedCol.cast("boolean").as("e"), outcomeCol.cast("boolean").as("o"))
      .filter(col("s").isNotNull && col("e").isNotNull && col("o").isNotNull)
      .groupBy("s")
      .agg(sum(when(col("e") && col("o"), 1L).otherwise(0L)).as("a"),
        sum(when(col("e") && !col("o"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("e") && col("o"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("e") && !col("o"), 1L).otherwise(0L)).as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(_._1) // deterministic fold order for the double sums
    require(cells.nonEmpty, "no strata")
    var aT = 0.0; var eT = 0.0; var vT = 0.0
    var orNum = 0.0; var orDen = 0.0
    cells.foreach { case (_, a, b, c, dd) =>
      val n1 = a + b; val n0 = c + dd
      val m1 = a + c; val m0 = b + dd
      val nk = n1 + n0
      if (nk >= 2 && n1 > 0 && n0 > 0 && m1 > 0 && m0 > 0) {
        val nkd = nk.toDouble
        aT += a.toDouble
        eT += n1.toDouble * m1.toDouble / nkd
        vT += n1.toDouble * n0.toDouble * m1.toDouble * m0.toDouble /
          (nkd * nkd * (nkd - 1.0))
        orNum += a.toDouble * dd.toDouble / nkd
        orDen += b.toDouble * c.toDouble / nkd
      }
    }
    require(vT > 0, "no stratum carries variance — degenerate margins")
    val chi2 = (aT - eT) * (aT - eT) / vT
    val orMh = if (orDen > 0) orNum / orDen else Double.NaN
    def rd(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    Seq((cells.length.toLong, aT.toLong, rd(eT), rd(vT), rd(chi2), rd(orMh)))
      .toDF("n_strata", "a_total", "e_total", "v_total", "cmh_chi2", "or_mh")
  }

  /** Delta-method CI for a RATIO metric with clustered units (Deng et
    * al. 2017's ratio-metric variance — the correct error bars for
    * revenue-per-session, CTR and every other ratio whose numerator
    * and denominator are summed per user): R = ΣX/ΣY with unit-level
    * (X_u, Y_u), se² = (varX − 2R·covXY + R²·varY) / (n·ȳ²) on the
    * unit-level SAMPLE moments. All sums are exact decimal(38,0) over
    * integral (cent) inputs, so only the final se/CI arithmetic is
    * IEEE — one fixed expression any engine replays. Returns one row
    * (n_units, sum_num, sum_den, ratio, se, ci_lo, ci_hi) with the
    * 95% normal interval R ± 1.96·se. */
  def ratioMetricCI(df: DataFrame, unitCol: String,
                    numCol: org.apache.spark.sql.Column,
                    denCol: org.apache.spark.sql.Column,
                    outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val units = df.filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol))
      .agg(sum(numCol.cast("long")).as("x"), sum(denCol.cast("long")).as("y"))
      .select(col("x").cast("decimal(38,0)").as("x"),
        col("y").cast("decimal(38,0)").as("y"))
    val m = units.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .head()
    val n = m.getLong(0)
    require(n >= 2, "need at least two units")
    def d(i: Int) = BigDecimal(m.getDecimal(i))
    val (sx, sy, sxx, syy, sxy) = (d(1), d(2), d(3), d(4), d(5))
    require(sy != 0, "denominator total is zero")
    val nd = n.toDouble
    val ratio = sx.toDouble / sy.toDouble
    val my = sy.toDouble / nd
    // unit-level SAMPLE (co)variances from exact integer moments
    val varX = (sxx.toDouble - sx.toDouble * sx.toDouble / nd) / (nd - 1.0)
    val varY = (syy.toDouble - sy.toDouble * sy.toDouble / nd) / (nd - 1.0)
    val covXY = (sxy.toDouble - sx.toDouble * sy.toDouble / nd) / (nd - 1.0)
    val se = math.sqrt(
      (varX - 2.0 * ratio * covXY + ratio * ratio * varY) / (nd * my * my))
    def rd(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    Seq((n, sx.toLong, sy.toLong, rd(ratio), rd(se),
      rd(ratio - 1.96 * se), rd(ratio + 1.96 * se)))
      .toDF("n_units", "sum_num", "sum_den", "ratio", "se", "ci_lo", "ci_hi")
  }

  /** Wilcoxon signed-rank test of H0: the per-key INTEGRAL differences
    * are symmetric about 0 — the rank-based companion to
    * [[signFlipTest]] (and the paired analogue of
    * [[Drift.mannWhitneyU]]). Zeros drop (the standard convention);
    * |d| midranks come from the DOUBLED-midrank identity
    * 2·midrank(v) = 2·cumBefore(v) + t_v + 1, so W⁺ and the tie
    * correction Σ(t³−t) are exact integers, and the tie-corrected
    * normal z = (2W⁺ − n(n+1)/2) / sqrt(n(n+1)(2n+1)/6 − T/12) is ONE
    * fixed IEEE expression on them. Ranks run through
    * [[Ranking.globalRank]]'s two-pass range scan — no
    * single-partition window at any scale. Returns one row
    * (n, w_plus_x2, ties_t3, z). */
  def wilcoxonSignedRank(df: DataFrame, keyCol: String,
                         diffCol: org.apache.spark.sql.Column,
                         outDigits: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(keyCol).cast("string").as("u"),
        diffCol.cast("long").as("d"))
      .filter(col("u").isNotNull && col("d").isNotNull && col("d") =!= 0L)
      .select(col("u"), col("d"), abs(col("d")).as("ad"))
    val ranked = Ranking.globalRank(rows, Seq(col("ad"), col("u")))
    // per-|d| group: cumBefore = min(rank) − 1; doubled midrank is
    // integral; W2 accumulates positives only
    val grid = ranked.groupBy(col("ad"))
      .agg(min(col("rank")).as("r0"), count(lit(1)).as("t"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
      .select(col("ad"), col("t"), col("pos"),
        (lit(2L) * (col("r0") - 1L) + col("t") + 1L).as("mid2"))
    val agg = grid.agg(
        sum(col("t")).as("n"),
        sum(col("pos") * col("mid2")).as("w2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tt"))
      .head()
    val n = agg.getLong(0)
    require(n > 0, "no nonzero differences")
    val w2 = agg.getLong(1)
    val tt = agg.getLong(2)
    val z = (w2.toDouble - (n.toDouble * (n + 1).toDouble) / 2.0) /
      math.sqrt(n.toDouble * (n + 1).toDouble * (2 * n + 1).toDouble / 6.0 -
        tt.toDouble / 12.0)
    def rd(x: Double) = BigDecimal(x)
      .setScale(outDigits, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    Seq((n, w2, tt, rd(z))).toDF("n", "w_plus_x2", "ties_t3", "z")
  }

  /** Sign-flip randomization test of H0: E[d] = 0 on per-key INTEGRAL
    * differences (the paired-permutation test; Fisher 1935) with
    * DETERMINISTIC md5-derived flips — flip k negates key `u` iff bit
    * k of md5(u) is set, so both the flips and every statistic are
    * engine-exact integers: stat_k = Σ_u s_k(u)·d_u, observed = Σ d_u,
    * and the add-one randomization p-value
    * (|#{k : |stat_k| ≥ |obs|}| + 1)·1e6 div (flips + 1) in ppm.
    * ONE typed treeAggregate carries all `flips` (≤ 128, one md5 per
    * key) sums — corpus-linear, no shuffle, the 100 TB shape of
    * randomization inference. Returns one row
    * (n_keys, flips, stat_obs, n_ge, p_ppm). */
  def signFlipTest(df: DataFrame, keyCol: String,
                   diffCol: org.apache.spark.sql.Column,
                   flips: Int = 128): DataFrame = {
    require(flips >= 1 && flips <= 128,
      "flips must be in [1, 128] (one md5 digest of sign bits per key)")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(keyCol).cast("string").as("u"),
        diffCol.cast("long").as("d"))
      .filter(col("u").isNotNull && col("d").isNotNull)
      .as[(String, Long)]
    val k = flips
    val acc = rows.rdd.treeAggregate(new Array[Long](k + 2))(
      seqOp = (a, row) => {
        val (u, d) = row
        val h = graft.functions.TextKernels.md5Hex(u)
        var i = 0
        while (i < k) {
          val v = Character.digit(h.charAt(i / 4), 16)
          a(i) += (if (((v >> (i % 4)) & 1) == 1) d else -d)
          i += 1
        }
        a(k) += d      // observed statistic
        a(k + 1) += 1L // key count
        a
      },
      combOp = (x, y) => {
        var i = 0
        while (i < x.length) { x(i) += y(i); i += 1 }
        x
      }, depth = 2)
    val obs = acc(k)
    val nGe = (0 until k).count(i => math.abs(acc(i)) >= math.abs(obs)).toLong
    Seq((acc(k + 1), k, obs, nGe, (nGe + 1) * 1000000L / (k + 1)))
      .toDF("n_keys", "flips", "stat_obs", "n_ge", "p_ppm")
  }
}
