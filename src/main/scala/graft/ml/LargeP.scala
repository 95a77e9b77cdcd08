package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Elastic-net paths at LARGE p without the p×p Gram: the routes
  * behind the `maxGramP` contract gate of [[SgdNet.fit]] /
  * [[SgdNet.fitSparse]] (gaussian, binomial and poisson fits, their
  * sparse CSR twins, relax and CV; multinomial runs the dense FISTA
  * core with a power-iteration Lipschitz bound instead).
  *
  * The one-pass routes aggregate the full packed Gram (p(p+1)/2
  * doubles in the driver and in every task), which caps p at
  * `SgdNet.maxGramP` (~8k). These routes hold the Gram only over a
  * grow-only ever-candidate set E of columns, in the manner of
  * working-set solvers (Celer, Massias et al. 2018):
  *
  *  - E starts each path point from a screening bound on the current
  *    gradient (`screenBound`): the sequential strong rule
  *    α(2λ − λ_prev) (Tibshirani et al. 2012), floored at
  *    αλ(1 − λ/λ_prev). The floor binds only below λ ≈ 0.618·λ_prev,
  *    so fine paths screen exactly as the bare rule does; on a wide
  *    gap, where the bare rule is vacuous and would admit all p
  *    columns, it tends to the exact KKT threshold αλ.
  *  - after each solve over E, one full-p pass computes the exact
  *    gradient (the WLS KKT vector under frozen weights for the IRLS
  *    routes). Columns outside E with |g_j| > αλ + tol are violators;
  *    if any exists, they and every column at or above the screening
  *    bound join E ([[reentry]]) and the point re-solves. Equality with
  *    the full-Gram path is therefore structural, whatever the bound.
  *
  * Cost model per path point: the gaussian routes pay one gradient
  * pass (plus a Gram-extension pass whenever E grows — the raw
  * |new|×|E| cross moments, standardized driver-side with the
  * [[SufficientStats.standardize]] formula); the IRLS routes pay one
  * fused pass per Newton step (KKT vector plus the next step's
  * weighted moments over E) and a moments pass whenever E grows.
  * Task results and driver state are O(p + |E|²), never O(p²), and a
  * path point's E stays near its active set however wide the λ gap.
  * The input rows are persisted MEMORY_AND_DISK for the pass loop and
  * unpersisted on return. |E| is held to `SgdNet.maxGramP`;
  * `dfmax`/`pmax` bound it tighter and stop the path early.
  *
  * Contract: alpha > 0 (ridge keeps every coordinate and the Gram IS
  * p×p), no penalty factors / box limits / sgdnetCompat /
  * standardizeResponse (those compose with the full-Gram routes after
  * dimensionality reduction); standardize, intercept, `weightCol` and
  * `offsetCol` are honored where the signatures take them. Verified
  * equal to the full-Gram routes on every shared regime by LargePSpec.
  */
object LargeP {

  /** `weightCol` (round 18): glmnet `weights` through the screened
    * route — sum-to-n normalized frequency weights applied as pure
    * RATIO forms (every moment divides by Σv instead of n, which for
    * v ≡ 1 reproduces the unweighted arithmetic bitwise), w = 0 drops
    * the row, equal to [[SgdNet.fitWeighted]] structurally.
    * `offsetCol`: identity link — the exact y − offset reduction every
    * gaussian offset route uses. */
  /** Driver-side capture of a screened fit's sufficient-statistics
    * view over its ever-candidate set E — what the relaxed refits
    * consume (active sets are ⊆ E, so gramAA and b_A read from here
    * with ZERO extra data passes, exactly `relaxedFromStats`' shape). */
  private[ml] final class GramCapture {
    var eIdx: Array[Int] = _
    var gram: Array[Array[Double]] = _ // standardized Gram over E
    var b: Array[Double] = _ // standardized covariance (full p)
    var scale: Array[Double] = _
    var mean: Array[Double] = _
    var yMean: Double = 0.0
  }

  /** Screening bound on |grad_j| for the path point `lam` after
    * `lamPrev`: the sequential strong rule α(2λ − λ_prev), floored at
    * αλ(1 − λ/λ_prev). The floor binds below λ ≈ 0.618·λ_prev, where
    * the bare rule falls towards 0 (it goes negative past λ_prev/2 and
    * would admit every column); as the gap widens it tends to αλ, the
    * exact KKT threshold. A non-decreasing step (or λ_prev ≤ 0) keeps
    * the bare rule, which is then ≥ αλ. Never 0, so a λ = 0 point
    * admits only columns with a nonzero gradient. */
  private def screenBound(alpha: Double, lam: Double, lamPrev: Double): Double = {
    val floor = if (lamPrev > lam) lam * (1.0 - lam / lamPrev) else 0.0
    math.max(alpha * math.max(2.0 * lam - lamPrev, floor), Double.MinPositiveValue)
  }

  /** E may hold at most `SgdNet.maxGramP` columns: `what` grows as
    * |E|² in driver memory. */
  private def requireEFits(size: Int, what: String): Unit =
    require(size <= SgdNet.maxGramP,
      s"the ever-candidate set would grow to $size > maxGramP = " +
        s"${SgdNet.maxGramP} columns: $what no longer fits the driver " +
        "budget. Use dfmax/pmax to bound the path, a larger lambda " +
        "floor, or raise graft.ml.SgdNet.maxGramP.")

  /** The m×m symmetric matrix of a packed lower triangle (row x2 at
    * x2(x2+1)/2), every entry times `scale`. */
  private def unpackSym(packed: Array[Double], m: Int,
                        scale: Double): Array[Array[Double]] = {
    val a = Array.ofDim[Double](m, m)
    var x2 = 0
    while (x2 < m) {
      val base = x2 * (x2 + 1) / 2
      var y2 = 0
      while (y2 <= x2) {
        val v = packed(base + y2) * scale
        a(x2)(y2) = v; a(y2)(x2) = v
        y2 += 1
      }
      x2 += 1
    }
    a
  }

  /** Columns outside E that the path point starts with: the nonzero
    * warm-start coefficients and every |grad_j| ≥ `bound`. */
  private def screened(grad: Array[Double], beta: Array[Double],
                       inE: Array[Boolean], bound: Double): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuilder.make[Int]
    var j = 0
    while (j < grad.length) {
      if (!inE(j) && (beta(j) != 0.0 || math.abs(grad(j)) >= bound)) out += j
      j += 1
    }
    out.result()
  }

  /** The KKT re-entry after a solve over E: empty when no column
    * outside E violates |kkt_j| > `level` (the point is exact), else
    * every column outside E at or above `bound` — the violators and
    * the columns the screening bound says come next. */
  private def reentry(kkt: Array[Double], inE: Array[Boolean],
                      level: Double, bound: Double): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuilder.make[Int]
    var violated = false
    var j = 0
    while (j < kkt.length) {
      val g = math.abs(kkt(j))
      if (!inE(j) && (g >= bound || g > level)) {
        out += j
        if (g > level) violated = true
      }
      j += 1
    }
    if (violated) out.result() else Array.emptyIntArray
  }

  /** The symmetric m×m block `old` grown to n×n: old entries copied,
    * each new row i ≥ m (and its mirror column above the old diagonal
    * block) filled from `entry(i − m, j)`. Primitive rows, rebuilt
    * only when E grows. */
  private def growSym(old: Array[Array[Double]], n: Int)(
      entry: (Int, Int) => Double): Array[Array[Double]] = {
    val m = old.length
    val g = Array.ofDim[Double](n, n)
    var i = 0
    while (i < m) { System.arraycopy(old(i), 0, g(i), 0, m); i += 1 }
    var a = 0
    while (a < n - m) {
      val row = g(m + a)
      var j = 0
      while (j < n) {
        val v = entry(a, j)
        row(j) = v
        if (j < m) g(j)(m + a) = v
        j += 1
      }
      a += 1
    }
    g
  }

  def fitGaussian(df: DataFrame, featureCols: Seq[String], labelCol: String,
                  params: SgdNetParams = SgdNetParams(),
                  weightCol: String = null,
                  offsetCol: String = null,
                  capture: GramCapture = null): SgdNetModel = {
    require(params.family == "gaussian",
      s"LargeP.fitGaussian supports gaussian, not ${params.family}")
    require(params.alpha > 0,
      "the screened-Gram route needs alpha > 0 (at alpha = 0 every " +
        "coordinate is active and the Gram IS p x p — ridge at large p " +
        "needs dimensionality reduction first)")
    require(params.penaltyFactor == null && params.lowerLimits == null &&
      params.upperLimits == null && !params.sgdnetCompat &&
      !params.standardizeResponse,
      "LargeP.fitGaussian composes with none of penaltyFactor / box " +
        "limits / sgdnetCompat / standardizeResponse — reduce " +
        "dimensionality and use SgdNet.fit for those")
    require(featureCols.nonEmpty, "the predictor matrix (x) is empty.")
    require(params.alpha <= 1,
      "elastic net mixing parameter (alpha) must be in [0, 1].")
    require(params.nlambda > 0, "lambda path cannot be of zero length.")
    require(params.thresh >= 0, "threshold for stopping criteria cannot be negative.")
    require(params.maxit > 0, "maximum number of iterations cannot be negative or zero.")
    if (params.lambda != null)
      require(params.lambda.forall(_ >= 0),
        "penalty strengths (lambdas) must be positive.")
    val p = featureCols.size
    val sc = df.sparkSession.sparkContext

    // offset: the identity-link reduction; weights ride along as a
    // third row slot (1.0 when unweighted — the ratio forms below then
    // reproduce the unweighted arithmetic bitwise)
    val adj = if (offsetCol == null) df
      else df.withColumn(labelCol,
        org.apache.spark.sql.functions.col(labelCol).cast("double") -
          org.apache.spark.sql.functions.col(offsetCol).cast("double"))
    val labCols = if (weightCol == null) Seq(labelCol)
      else Seq(labelCol, weightCol)
    val rows0 = SufficientStats.toRdd(adj, featureCols, labCols)
      .map { case (x, y) => (x, y(0), if (y.length > 1) y(1) else 1.0) }
    val rows = (if (weightCol == null) rows0
      else rows0.map { t =>
        require(t._3 >= 0, "weights must be non-negative")
        t
      }.filter(_._3 > 0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ---------------------------------------------- pass A: O(p) moments
      val accA = rows.treeAggregate(new Array[Double](3 * p + 4))(
        seqOp = (a, r) => {
          val x = r._1; val y = r._2; val v = r._3
          var j = 0
          while (j < p) {
            val xj = v * x(j)
            a(j) += xj; a(p + j) += xj * x(j); a(2 * p + j) += xj * y
            j += 1
          }
          a(3 * p) += 1.0; a(3 * p + 1) += v * y; a(3 * p + 2) += v * y * y
          a(3 * p + 3) += v
          a
        },
        combOp = (a, b) => {
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
        }, depth = 2)
      var passes = 1
      val nRows = accA(3 * p)
      require(nRows > 0, "the response (y) is empty.")
      val nL = nRows.toLong
      // every moment ratio divides by Σv (== row count when unweighted)
      val nD = accA(3 * p + 3)
      val mean = Array.tabulate(p)(j => accA(j) / nD)
      val xSd = Array.tabulate(p) { j =>
        val v = math.max(accA(p + j) / nD - mean(j) * mean(j), 0.0)
        val s = math.sqrt(v); if (s > 0) s else 1.0
      }
      val scale = if (params.standardize) xSd else Array.fill(p)(1.0)
      val center = if (params.intercept) mean else new Array[Double](p)
      val yMean = accA(3 * p + 1) / nD
      val yVar = math.max(accA(3 * p + 2) / nD - yMean * yMean, 0.0)
      val yCen = if (params.intercept) yMean else 0.0
      // standardized-scale gradient at beta = 0 (SufficientStats
      // .standardize b-formula, recomputed from the O(p) moments)
      val c = Array.tabulate(p)(j =>
        (accA(2 * p + j) / nD - center(j) * yMean - yCen * mean(j) +
          center(j) * yCen) / scale(j))

      val minRatio = if (params.lambdaMinRatio.isNaN)
        LambdaPath.defaultMinRatio(nL, p) else params.lambdaMinRatio
      val lambdas = if (params.lambda != null) params.lambda
        else LambdaPath.build(Array(c), params.alpha, params.nlambda,
          minRatio, null)
      // the SAME max(alpha, 1e-3) clamp as LambdaPath.lambdaMax: without
      // it, alpha < 1e-3 makes lamPrev exceed the first auto-path lambda
      // and the first screening bound falls to its floor
      val lmaxData = c.map(math.abs).max / math.max(params.alpha, 1e-3)

      // ------------------------------------- ever-candidate Gram block E
      val inE = new Array[Boolean](p)
      val eIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      // symmetric standardized Gram over E (primitive rows)
      var gramE = Array.empty[Array[Double]]

      def extend(nn: Array[Int]): Unit = {
        if (nn.isEmpty) return
        requireEFits(eIdx.size + nn.length, "the O(|E|^2) active block")
        val oldE = eIdx.toArray
        val eAfter = oldE ++ nn
        val bc = sc.broadcast((nn, eAfter))
        // RAW v-weighted cross moments (same accumulation shape as
        // GramStats.xtx); centered/standardized driver-side with the
        // standardize formula (v ≡ 1 unweighted — bitwise unchanged)
        val acc = rows.treeAggregate(
            new Array[Double](nn.length * eAfter.length))(
          seqOp = (a, r) => {
            val x = r._1; val v = r._3
            val (nnL, eL) = bc.value
            var ai = 0
            while (ai < nnL.length) {
              val xa = v * x(nnL(ai))
              val base = ai * eL.length
              var bi = 0
              while (bi < eL.length) { a(base + bi) += xa * x(eL(bi)); bi += 1 }
              ai += 1
            }
            a
          },
          combOp = (a, b) => {
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        def std(aRaw: Double, i: Int, j: Int): Double =
          (aRaw / nD - center(i) * mean(j) - center(j) * mean(i) +
            center(i) * center(j)) / (scale(i) * scale(j))
        // append the new columns to the symmetric block
        val mE = eAfter.length
        gramE = growSym(gramE, mE)((ai, bi) =>
          std(acc(ai * mE + bi), nn(ai), eAfter(bi)))
        nn.foreach { j => inE(j) = true; eIdx += j }
      }

      // full standardized gradient at the current solution — the KKT /
      // strong-rule pass (per-row O(p + |active|))
      def gradientPass(beta: Array[Double]): Array[Double] = {
        val act = (0 until p).filter(beta(_) != 0.0).toArray
        if (act.isEmpty) return c.clone()
        val bAct = act.map(beta)
        val bc = sc.broadcast((act, bAct, center, scale))
        val acc = rows.treeAggregate(new Array[Double](p))(
          seqOp = (a, r) => {
            val x = r._1; val v = r._3
            val (actL, bL, ctr, scl) = bc.value
            var s = 0.0
            var i = 0
            while (i < actL.length) {
              val j = actL(i)
              s += bL(i) * (x(j) - ctr(j)) / scl(j)
              i += 1
            }
            s *= v
            var j = 0
            while (j < p) { a(j) += (x(j) - ctr(j)) / scl(j) * s; j += 1 }
            a
          },
          combOp = (a, b) => {
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        Array.tabulate(p)(j => c(j) - acc(j) / nD)
      }

      // ----------------------------------------------------- path loop
      val L = lambdas.length
      val ySecond = if (params.intercept) yVar else yVar + yMean * yMean
      val nulldev = nRows * ySecond  // row count, the solveGaussianFromStats g.n scale
      val a0Out = Array.ofDim[Double](L, 1)
      val betaOut = Array.ofDim[Double](L, 1, p)
      val devRatio = new Array[Double](L)
      val beta = new Array[Double](p) // standardized coords, warm across l
      var grad = c.clone()
      var lamPrev = lmaxData
      val dfGate = new SgdNet.DfGate(params, p)
      var cutL = L
      var l = 0
      while (l < L) {
        val lam = lambdas(l)
        // E starts from the floored strong rule; the KKT sweep below
        // keeps the point exact
        val bound = screenBound(params.alpha, lam, lamPrev)
        extend(screened(grad, beta, inE, bound))
        // tolerance tracks the CD solve threshold itself (thresh*1e-4
        // below) — the same round-18 tightening as solveScreened; a
        // marginal false re-entry costs one extra sub-solve, grow-only E
        val tol = math.max(params.thresh * 1e-4, 1e-12) * math.max(lam, 1.0)
        var done = false
        while (!done) {
          val m = eIdx.size
          val cSub = Array.tabulate(m)(x2 => c(eIdx(x2)))
          val init = Array.tabulate(m)(x2 => beta(eIdx(x2)))
          val r = CoordinateDescent.solve(gramE, cSub,
            new Array[Double](m), 0.0, 1.0, lam, params.alpha,
            intercept = false, init = init,
            thresh = params.thresh * 1e-4, maxIter = params.maxit)
          var x2 = 0
          while (x2 < m) { beta(eIdx(x2)) = r.beta(x2); x2 += 1 }
          grad = gradientPass(beta)
          val back = reentry(grad, inE, lam * params.alpha + tol, bound)
          if (back.isEmpty) done = true else extend(back)
        }
        if (!dfGate.admit(j => beta(j) != 0.0)) { cutL = l; l = L }
        else {
          // RSS/n from the block moments (full-Gram tail formula on E)
          val eArr = eIdx.toArray
          var bb = 0.0; var gq = 0.0
          var x2 = 0
          while (x2 < eArr.length) {
            val j = eArr(x2)
            bb += c(j) * beta(j)
            val row = gramE(x2)
            var s = 0.0
            var y2 = 0
            while (y2 < eArr.length) { s += row(y2) * beta(eArr(y2)); y2 += 1 }
            gq += beta(j) * s
            x2 += 1
          }
          val rssOverN = ySecond - 2 * bb + gq
          devRatio(l) = SgdNetModel.devRatio(nRows * rssOverN, nulldev)
          for (j <- 0 until p) betaOut(l)(0)(j) = beta(j) / scale(j)
          a0Out(l)(0) = if (params.intercept)
            yMean - (0 until p).map(j => betaOut(l)(0)(j) * mean(j)).sum
          else 0.0
          lamPrev = lam
          l += 1
        }
      }
      require(cutL > 0, "dfmax/pmax exclude every path point")
      if (capture != null) {
        capture.eIdx = eIdx.toArray
        capture.gram = gramE
        capture.b = c.clone(); capture.scale = scale; capture.mean = mean
        capture.yMean = yMean
      }

      // npasses reports DATA passes (the resource this route is
      // designed around), unlike the one-pass route's CD-iteration count
      new SgdNetModel("gaussian", featureCols.toArray, Array(labelCol),
        Array.empty, lambdas.take(cutL), a0Out.take(cutL),
        betaOut.take(cutL), nulldev, devRatio.take(cutL), nL, passes,
        params)
    } finally rows.unpersist(blocking = false)
  }

  // --------------------------------------------------------------- sparse

  /** Screened-Gram path for LARGE-DIM SPARSE (CSR) input — the
    * hashed-feature twin of [[fitGaussian]] (round 18): the gaussian
    * elastic-net path over (indices, values) rows at dimensions the
    * p×p Gram of [[SgdNet.fitSparse]] refuses, with every cluster
    * pass SPARSE per row:
    *
    *  - pass A: per-feature moments from the nnz entries only —
    *    O(nnz) per row;
    *  - Gram-extension passes: raw cross moments x_a·x_b are nonzero
    *    only when BOTH features occur in the row, so the |new|×|E|
    *    slab costs O(k_new·k_E) per row (k = the row's nnz inside
    *    each set, found via broadcast slot lookups);
    *  - gradient passes: centering makes the standardized gradient
    *    dense, but it splits as
    *    (1/s_j)·(Σᵢ x_ij·innerᵢ − c_j·Σᵢ innerᵢ): accumulate the
    *    SPARSE products and the scalar Σ inner, apply the centering
    *    correction driver-side — O(nnz + |active ∩ nnz|) per row,
    *    never O(p).
    *
    * Same contract and structural-equality discipline as
    * [[fitGaussian]]; feature names are the `V$j` convention of
    * [[SgdNet.fitSparse]]. Verified equal to the full-Gram sparse
    * route (and to the dense screened route on densified rows) by
    * LargePSpec. */
  def fitSparseGaussian(df: DataFrame, idxCol: String, valCol: String,
                        dim: Int, labelCol: String,
                        params: SgdNetParams = SgdNetParams(),
                        capture: GramCapture = null): SgdNetModel = {
    import org.apache.spark.sql.functions.col
    require(params.family == "gaussian",
      s"LargeP.fitSparseGaussian supports gaussian, not ${params.family}")
    require(params.alpha > 0,
      "the screened-Gram route needs alpha > 0 (at alpha = 0 every " +
        "coordinate is active and the Gram IS p x p — ridge at large p " +
        "needs dimensionality reduction first)")
    require(params.penaltyFactor == null && params.lowerLimits == null &&
      params.upperLimits == null && !params.sgdnetCompat &&
      !params.standardizeResponse,
      "LargeP.fitSparseGaussian composes with none of penaltyFactor / " +
        "box limits / sgdnetCompat / standardizeResponse — reduce " +
        "dimensionality and use SgdNet.fitSparse for those")
    require(dim > 0, "the predictor matrix (x) is empty.")
    require(params.alpha <= 1,
      "elastic net mixing parameter (alpha) must be in [0, 1].")
    require(params.nlambda > 0, "lambda path cannot be of zero length.")
    require(params.thresh >= 0, "threshold for stopping criteria cannot be negative.")
    require(params.maxit > 0, "maximum number of iterations cannot be negative or zero.")
    if (params.lambda != null)
      require(params.lambda.forall(_ >= 0),
        "penalty strengths (lambdas) must be positive.")
    val p = dim
    val sc = df.sparkSession.sparkContext
    val rows = df.select(col(idxCol), col(valCol).cast("array<double>"),
        col(labelCol).cast("double"))
      .rdd.map { r =>
        (r.getSeq[Int](0).toArray, r.getSeq[Double](1).toArray,
          r.getDouble(2))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ---------------------------------------------- pass A (O(nnz)/row)
      val accA = rows.treeAggregate(new Array[Double](3 * p + 3))(
        seqOp = (a, r) => {
          val (ix, vs, y) = r
          var k = 0
          while (k < ix.length) {
            val j = ix(k); val v = vs(k)
            a(j) += v; a(p + j) += v * v; a(2 * p + j) += v * y
            k += 1
          }
          a(3 * p) += 1.0; a(3 * p + 1) += y; a(3 * p + 2) += y * y
          a
        },
        combOp = (a, b) => {
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
        }, depth = 2)
      var passes = 1
      val nD = accA(3 * p)
      require(nD > 0, "the response (y) is empty.")
      val nL = nD.toLong
      val mean = Array.tabulate(p)(j => accA(j) / nD)
      val xSd = Array.tabulate(p) { j =>
        val v = math.max(accA(p + j) / nD - mean(j) * mean(j), 0.0)
        val s = math.sqrt(v); if (s > 0) s else 1.0
      }
      val scale = if (params.standardize) xSd else Array.fill(p)(1.0)
      val center = if (params.intercept) mean else new Array[Double](p)
      val invScale = Array.tabulate(p)(j => 1.0 / scale(j))
      val yMean = accA(3 * p + 1) / nD
      val yVar = math.max(accA(3 * p + 2) / nD - yMean * yMean, 0.0)
      val yCen = if (params.intercept) yMean else 0.0
      val c = Array.tabulate(p)(j =>
        (accA(2 * p + j) / nD - center(j) * yMean - yCen * mean(j) +
          center(j) * yCen) / scale(j))

      val minRatio = if (params.lambdaMinRatio.isNaN)
        LambdaPath.defaultMinRatio(nL, p) else params.lambdaMinRatio
      val lambdas = if (params.lambda != null) params.lambda
        else LambdaPath.build(Array(c), params.alpha, params.nlambda,
          minRatio, null)
      val lmaxData = c.map(math.abs).max / math.max(params.alpha, 1e-3)

      // ------------------------------------- ever-candidate Gram block E
      val inE = new Array[Boolean](p)
      val eIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      // symmetric standardized Gram over E (primitive rows)
      var gramE = Array.empty[Array[Double]]

      def extend(nn: Array[Int]): Unit = {
        if (nn.isEmpty) return
        requireEFits(eIdx.size + nn.length, "the O(|E|^2) active block")
        val oldE = eIdx.toArray
        val eAfter = oldE ++ nn
        // slot lookups so each row finds its nnz inside each set in
        // O(nnz) — broadcast int arrays, -1 = not a member
        val slotNew = Array.fill(p)(-1)
        nn.indices.foreach(i => slotNew(nn(i)) = i)
        val slotE = Array.fill(p)(-1)
        eAfter.indices.foreach(i => slotE(eAfter(i)) = i)
        val bc = sc.broadcast((slotNew, slotE, nn.length, eAfter.length))
        val acc = rows.treeAggregate(
            new Array[Double](nn.length * eAfter.length))(
          seqOp = (a, r) => {
            val (ix, vs, _) = r
            val (sN, sE, nNew, nE) = bc.value
            // gather the row's entries inside each set
            var k = 0
            var cntN = 0; var cntE = 0
            while (k < ix.length) {
              val j = ix(k)
              if (sN(j) >= 0) cntN += 1
              if (sE(j) >= 0) cntE += 1
              k += 1
            }
            if (cntN > 0 && cntE > 0) {
              val nIdx = new Array[Int](cntN); val nVal = new Array[Double](cntN)
              val eIdx2 = new Array[Int](cntE); val eVal = new Array[Double](cntE)
              k = 0; var a1 = 0; var a2 = 0
              while (k < ix.length) {
                val j = ix(k)
                val s1 = sN(j); val s2 = sE(j)
                if (s1 >= 0) { nIdx(a1) = s1; nVal(a1) = vs(k); a1 += 1 }
                if (s2 >= 0) { eIdx2(a2) = s2; eVal(a2) = vs(k); a2 += 1 }
                k += 1
              }
              var i1 = 0
              while (i1 < cntN) {
                val base = nIdx(i1) * nE
                val v1 = nVal(i1)
                var i2 = 0
                while (i2 < cntE) {
                  a(base + eIdx2(i2)) += v1 * eVal(i2)
                  i2 += 1
                }
                i1 += 1
              }
            }
            a
          },
          combOp = (a, b) => {
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        def std(aRaw: Double, i: Int, j: Int): Double =
          (aRaw / nD - center(i) * mean(j) - center(j) * mean(i) +
            center(i) * center(j)) / (scale(i) * scale(j))
        // append the new columns to the symmetric block
        val mE = eAfter.length
        gramE = growSym(gramE, mE)((ai, bi) =>
          std(acc(ai * mE + bi), nn(ai), eAfter(bi)))
        nn.foreach { j => inE(j) = true; eIdx += j }
      }

      // full standardized gradient, SPARSE per row: the centering
      // correction applies driver-side (see scaladoc)
      def gradientPass(beta: Array[Double]): Array[Double] = {
        val act = (0 until p).filter(beta(_) != 0.0).toArray
        if (act.isEmpty) return c.clone()
        // row inner product: sum over act∩nnz of beta_k*x_k/s_k minus
        // the constant sum over act of beta_k*ctr_k/s_k
        val betaInv = act.map(j => beta(j) * invScale(j))
        val actSlot = Array.fill(p)(-1)
        act.indices.foreach(i => actSlot(act(i)) = i)
        var cAct = 0.0
        act.indices.foreach(i => cAct += betaInv(i) * center(act(i)))
        val bc = sc.broadcast((actSlot, betaInv, cAct))
        val acc = rows.treeAggregate(new Array[Double](p + 1))(
          seqOp = (a, r) => {
            val (ix, vs, _) = r
            val (sA, bI, c0) = bc.value
            var inner = -c0
            var k = 0
            while (k < ix.length) {
              val s = sA(ix(k))
              if (s >= 0) inner += bI(s) * vs(k)
              k += 1
            }
            if (inner != 0.0) {
              k = 0
              while (k < ix.length) {
                a(ix(k)) += vs(k) * inner
                k += 1
              }
              a(p) += inner
            }
            a
          },
          combOp = (a, b) => {
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        val t = acc(p)
        Array.tabulate(p)(j =>
          c(j) - (acc(j) - center(j) * t) * invScale(j) / nD)
      }

      // ----------------------------------------------------- path loop
      val L = lambdas.length
      val ySecond = if (params.intercept) yVar else yVar + yMean * yMean
      val nulldev = nD * ySecond
      val a0Out = Array.ofDim[Double](L, 1)
      val betaOut = Array.ofDim[Double](L, 1, p)
      val devRatio = new Array[Double](L)
      val beta = new Array[Double](p)
      var grad = c.clone()
      var lamPrev = lmaxData
      val dfGate = new SgdNet.DfGate(params, p)
      var cutL = L
      var l = 0
      while (l < L) {
        val lam = lambdas(l)
        // floored strong-rule start, exact KKT re-entry (fitGaussian)
        val bound = screenBound(params.alpha, lam, lamPrev)
        extend(screened(grad, beta, inE, bound))
        val tol = math.max(params.thresh * 1e-4, 1e-12) * math.max(lam, 1.0)
        var done = false
        while (!done) {
          val m = eIdx.size
          val cSub = Array.tabulate(m)(x2 => c(eIdx(x2)))
          val init = Array.tabulate(m)(x2 => beta(eIdx(x2)))
          val r = CoordinateDescent.solve(gramE, cSub,
            new Array[Double](m), 0.0, 1.0, lam, params.alpha,
            intercept = false, init = init,
            thresh = params.thresh * 1e-4, maxIter = params.maxit)
          var x2 = 0
          while (x2 < m) { beta(eIdx(x2)) = r.beta(x2); x2 += 1 }
          grad = gradientPass(beta)
          val back = reentry(grad, inE, lam * params.alpha + tol, bound)
          if (back.isEmpty) done = true else extend(back)
        }
        if (!dfGate.admit(j => beta(j) != 0.0)) { cutL = l; l = L }
        else {
          val eArr = eIdx.toArray
          var bb = 0.0; var gq = 0.0
          var x2 = 0
          while (x2 < eArr.length) {
            val j = eArr(x2)
            bb += c(j) * beta(j)
            val row = gramE(x2)
            var s = 0.0
            var y2 = 0
            while (y2 < eArr.length) { s += row(y2) * beta(eArr(y2)); y2 += 1 }
            gq += beta(j) * s
            x2 += 1
          }
          val rssOverN = ySecond - 2 * bb + gq
          devRatio(l) = SgdNetModel.devRatio(nD * rssOverN, nulldev)
          for (j <- 0 until p) betaOut(l)(0)(j) = beta(j) / scale(j)
          a0Out(l)(0) = if (params.intercept)
            yMean - (0 until p).map(j => betaOut(l)(0)(j) * mean(j)).sum
          else 0.0
          lamPrev = lam
          l += 1
        }
      }
      require(cutL > 0, "dfmax/pmax exclude every path point")
      if (capture != null) {
        capture.eIdx = eIdx.toArray
        capture.gram = gramE
        capture.b = c.clone(); capture.scale = scale; capture.mean = mean
        capture.yMean = yMean
      }
      new SgdNetModel("gaussian", (0 until p).map(j => s"V$j").toArray,
        Array(labelCol), Array.empty, lambdas.take(cutL), a0Out.take(cutL),
        betaOut.take(cutL), nulldev, devRatio.take(cutL), nL, passes,
        params)
    } finally rows.unpersist(blocking = false)
  }

  // --------------------------------------------------------- multinomial

  /** Multinomial (softmax) elastic net at LARGE p (round 18): the
    * dense route's FISTA core consumes its p×p Gram for ONE number —
    * the Lipschitz bound 0.5·λmax(Gram) — while the FISTA state, the
    * gradient passes and every prox are already O(p·k). This route
    * therefore runs the IDENTICAL core (`SgdNet.fitMultinomialCoreSt`,
    * same gradient/deviance kernels, same grouped/ungrouped prox, same
    * penalty-factor/box-limit support) from:
    *
    *  - ONE O(p·k)-state moment pass (means/sds, class proportions,
    *    the standardized null gradient b — the lambda-path input);
    *  - a DISTRIBUTED POWER ITERATION for the Lipschitz bound: each
    *    iteration is one O(p)-state pass computing Gram·v row-wise
    *    ((1/n)·Xsᵀ(Xs v)) without materializing the Gram; early-stops
    *    at machine-precision eigenvalue convergence (the dense
    *    `LinAlg.maxEig` runs the same recursion on the explicit
    *    matrix), capped at 100 iterations.
    *
    * Driver/broadcast state is O(p·k) (the FISTA coefficient block),
    * never p². npasses counts the moment pass + power-iteration
    * passes + FISTA gradient passes. */
  def fitMultinomial(df: DataFrame, featureCols: Seq[String],
                     labelCol: String,
                     params: SgdNetParams = SgdNetParams(family = "multinomial")): SgdNetModel = {
    require(params.family == "multinomial",
      s"LargeP.fitMultinomial supports multinomial, not ${params.family}")
    require(featureCols.nonEmpty, "the predictor matrix (x) is empty.")
    val p = featureCols.size
    val classes = SgdNet.multinomialClasses(df, labelCol)
    val k = classes.length
    val classIdx = classes.zipWithIndex.toMap
    val rows = df.selectExpr(
        (featureCols.map(c => s"cast(`$c` as double)") :+
          s"cast(`$labelCol` as string)"): _*)
      .rdd.map { row =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = row.getDouble(j); j += 1 }
        (x, row.getString(p))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val idx = rows.sparkContext.broadcast(classIdx)
      val onehot = rows.map { case (x, c) =>
        val y = new Array[Double](k); y(idx.value(c)) = 1.0; (x, y)
      }
      val sc = rows.sparkContext
      // ------------------------------- pass A: O(p·k) raw moments
      val sz = 2 * p + p * k + 2 * k + 1
      val accA = onehot.treeAggregate(new Array[Double](sz))(
        seqOp = (a, r) => {
          val (x, y) = r
          var j = 0
          while (j < p) {
            val xj = x(j)
            a(j) += xj; a(p + j) += xj * xj
            var t = 0
            while (t < k) { a(2 * p + j * k + t) += xj * y(t); t += 1 }
            j += 1
          }
          var t = 0
          while (t < k) {
            a(2 * p + p * k + t) += y(t)
            a(2 * p + p * k + k + t) += y(t) * y(t)
            t += 1
          }
          a(sz - 1) += 1.0
          a
        },
        combOp = (a, b) => {
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
        }, depth = 2)
      var passes = 1
      val nD = accA(sz - 1)
      require(nD > 0, "the response (y) is empty.")
      val st = stdStatsFrom(accA, p, k, nD, params)
      val mean = if (params.intercept) st.xMean else new Array[Double](p)
      val scale = if (params.standardize) st.xSd else Array.fill(p)(1.0)
      // --------------------- Lipschitz by distributed power iteration
      val lipPasses = new Array[Int](1)
      val lip = 0.5 * powerEig(p, mean, scale, nD, lipPasses) { v =>
        val bc = sc.broadcast(v)
        val acc = onehot.treeAggregate(new Array[Double](p))(
          seqOp = (a, r) => {
            val x = r._1
            val vv = bc.value
            var inner = 0.0
            var j = 0
            while (j < p) {
              inner += (x(j) - mean(j)) / scale(j) * vv(j); j += 1
            }
            if (inner != 0.0) {
              j = 0
              while (j < p) {
                a(j) += (x(j) - mean(j)) / scale(j) * inner; j += 1
              }
            }
            a
          },
          combOp = (a, b) => {
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }, depth = 2)
        bc.destroy()
        acc
      } + 1e-9
      passes += lipPasses(0)
      SgdNet.fitMultinomialCoreSt(st, nD.toLong, lip,
        featureCols.toArray, labelCol, classes, params,
        gradFn = (m, s, yB, yA) => SgdNet.softmaxGrad(onehot, m, s, yB, yA, k),
        devFn = (a0Out, betaOut) =>
          SgdNet.multinomDeviance(onehot, a0Out, betaOut, k),
        passes0 = passes)
    } finally rows.unpersist(blocking = false)
  }

  /** SPARSE (CSR) multinomial at LARGE dim — the many-class quality-
    * classifier regime over hashed text features, where the dense Gram
    * never existed: [[fitMultinomial]]'s discipline with the sparse
    * kernels (`sparseSoftmaxGrad` / `sparseMultinomDeviance` — the
    * exact kernels the full-Gram sparse route runs) and the power
    * iteration's matvec split into sparse accumulations plus the
    * driver-side centering correction (never an O(p) row loop). */
  def fitSparseMultinomial(df: DataFrame, idxCol: String, valCol: String,
                           dim: Int, labelCol: String,
                           params: SgdNetParams = SgdNetParams(family = "multinomial")): SgdNetModel = {
    import org.apache.spark.sql.functions.col
    require(params.family == "multinomial",
      s"LargeP.fitSparseMultinomial supports multinomial, not ${params.family}")
    require(dim > 0, "the predictor matrix (x) is empty.")
    val p = dim
    val classes = SgdNet.multinomialClasses(df, labelCol)
    val k = classes.length
    val classIdx = classes.zipWithIndex.toMap
    val bcIdx = df.sparkSession.sparkContext.broadcast(classIdx)
    val rows = df.select(col(idxCol), col(valCol).cast("array<double>"),
        col(labelCol).cast("string"))
      .rdd.map { r =>
        val y = new Array[Double](k)
        y(bcIdx.value(r.getString(2))) = 1.0
        (r.getSeq[Int](0).toArray, r.getSeq[Double](1).toArray, y, 1.0)
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sc = rows.sparkContext
      // --------------------- pass A: O(nnz·k)-per-row raw moments
      val sz = 2 * p + p * k + 2 * k + 1
      val accA = rows.treeAggregate(new Array[Double](sz))(
        seqOp = (a, r) => {
          val (ix, vs, y, _) = r
          var q = 0
          while (q < ix.length) {
            val j = ix(q); val xj = vs(q)
            a(j) += xj; a(p + j) += xj * xj
            var t = 0
            while (t < k) { a(2 * p + j * k + t) += xj * y(t); t += 1 }
            q += 1
          }
          var t = 0
          while (t < k) {
            a(2 * p + p * k + t) += y(t)
            a(2 * p + p * k + k + t) += y(t) * y(t)
            t += 1
          }
          a(sz - 1) += 1.0
          a
        },
        combOp = (a, b) => {
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
        }, depth = 2)
      var passes = 1
      val nD = accA(sz - 1)
      require(nD > 0, "the response (y) is empty.")
      val st = stdStatsFrom(accA, p, k, nD, params)
      val mean = if (params.intercept) st.xMean else new Array[Double](p)
      val scale = if (params.standardize) st.xSd else Array.fill(p)(1.0)
      val invS = Array.tabulate(p)(j => 1.0 / scale(j))
      val lipPasses = new Array[Int](1)
      val lip = 0.5 * powerEig(p, mean, scale, nD, lipPasses) { v =>
        // (Xs v)_i = Σ_nnz x_j v_j / s_j − Σ_j c_j v_j / s_j; then
        // Xsᵀ(.) splits into sparse sums + a Σinner centering term
        var cv = 0.0
        var j = 0
        while (j < p) { cv += mean(j) * invS(j) * v(j); j += 1 }
        val vOverS = Array.tabulate(p)(j2 => v(j2) * invS(j2))
        val bc = sc.broadcast((vOverS, cv))
        val acc = rows.treeAggregate(new Array[Double](p + 1))(
          seqOp = (a, r) => {
            val (ix, vs, _, _) = r
            val (vS, c0) = bc.value
            var inner = -c0
            var q = 0
            while (q < ix.length) { inner += vs(q) * vS(ix(q)); q += 1 }
            if (inner != 0.0) {
              q = 0
              while (q < ix.length) { a(ix(q)) += vs(q) * inner; q += 1 }
              a(p) += inner
            }
            a
          },
          combOp = (a, b) => {
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }, depth = 2)
        bc.destroy()
        Array.tabulate(p)(j2 => (acc(j2) - mean(j2) * acc(p)) * invS(j2))
      } + 1e-9
      passes += lipPasses(0)
      SgdNet.fitMultinomialCoreSt(st, nD.toLong, lip,
        (0 until p).map(j => s"V$j").toArray, labelCol, classes, params,
        gradFn = (m, s, yB, yA) =>
          SgdNet.sparseSoftmaxGrad(rows, m, s, yB, yA, k),
        devFn = (a0Out, betaOut) =>
          SgdNet.sparseMultinomDeviance(rows.map(r => (r._1, r._2, r._3)),
            a0Out, betaOut, k),
        passes0 = passes)
    } finally rows.unpersist(blocking = false)
  }

  /** StdStats (gram = null) from the raw multinomial moment layout
    * [sumX p][sumXX p][xty p·k j-major][sumY k][sumYY k][n] — the
    * exact `SufficientStats.standardize` arithmetic. */
  private def stdStatsFrom(accA: Array[Double], p: Int, k: Int,
                           nD: Double, params: SgdNetParams): StdStats = {
    val xMean = Array.tabulate(p)(j => accA(j) / nD)
    val xSd = Array.tabulate(p) { j =>
      val v = math.max(accA(p + j) / nD - xMean(j) * xMean(j), 0.0)
      val s = math.sqrt(v); if (s > 0) s else 1.0
    }
    val scale = if (params.standardize) xSd else Array.fill(p)(1.0)
    val center = if (params.intercept) xMean else new Array[Double](p)
    val yMean = Array.tabulate(k)(t => accA(2 * p + p * k + t) / nD)
    val yVar = Array.tabulate(k)(t =>
      math.max(accA(2 * p + p * k + k + t) / nD - yMean(t) * yMean(t), 0.0))
    val yCenter = if (params.intercept) yMean else new Array[Double](k)
    val b = Array.tabulate(k, p) { (t, j) =>
      (accA(2 * p + j * k + t) / nD - center(j) * yMean(t) -
        yCenter(t) * xMean(j) + center(j) * yCenter(t)) / scale(j)
    }
    StdStats(nD.toLong, xMean, xSd, yMean, yVar, null, b)
  }

  /** Largest eigenvalue of the standardized Gram by power iteration
    * over cluster matvec passes: `matvec` returns the UN-normalized
    * Xsᵀ(Xs v) sums (divided by n here). Deterministic uniform start,
    * the `LinAlg.maxEig` recursion, early-stopped at machine-precision
    * eigenvalue convergence, capped at the same 100 iterations.
    * `passesOut(0)` receives the pass count. */
  private def powerEig(p: Int, mean: Array[Double], scale: Array[Double],
                       nD: Double, passesOut: Array[Int])
                      (matvec: Array[Double] => Array[Double]): Double = {
    var v = Array.fill(p)(1.0 / math.sqrt(p.toDouble))
    var eig = 0.0
    var it = 0
    var done = false
    while (it < 100 && !done) {
      val raw = matvec(v)
      val av = Array.tabulate(p)(j => raw(j) / nD)
      val nrm = math.sqrt(av.map(x => x * x).sum)
      if (nrm == 0.0) { passesOut(0) = it + 1; return 0.0 }
      if (it > 0 && math.abs(nrm - eig) <= 1e-14 * math.max(nrm, 1.0))
        done = true
      eig = nrm
      v = av.map(_ / nrm)
      it += 1
    }
    passesOut(0) = it
    eig
  }

  // --------------------------------------------------------------- relax

  /** Relaxed elastic net at LARGE p (round 18 — glmnet `relax = TRUE`
    * through the screened-Gram gaussian chassis): the screened path
    * from [[fitGaussian]], then each lambda's active set refit
    * UNPENALIZED from the already-accumulated standardized Gram over
    * the ever-candidate set E — active sets are ⊆ E by construction,
    * so the refits are pure driver-side normal-equation solves with
    * ZERO extra data passes (exactly the `SgdNet.relaxedFit` shape,
    * whose one-pass moments this route could never hold at p beyond
    * the cliff). Empty active set refits to the intercept-only model.
    * `weightCol`/`offsetCol` compose exactly as on [[fitGaussian]]
    * (the refit then solves the WEIGHTED normal equations / the
    * offset-adjusted response — the `relaxedFitWeighted` /
    * `relaxedFitWithOffset` semantics). Same contract as
    * [[fitGaussian]]; box limits are excluded there, so the refit is
    * always the exact solve branch. */
  def relaxedFitGaussian(df: DataFrame, featureCols: Seq[String],
                         labelCol: String,
                         params: SgdNetParams = SgdNetParams(),
                         gamma: Double = 1.0,
                         weightCol: String = null,
                         offsetCol: String = null): SgdNet.RelaxedPath = {
    require(gamma >= 0 && gamma <= 1, "gamma must be in [0, 1]")
    val cap = new GramCapture
    val model = fitGaussian(df, featureCols, labelCol, params, weightCol,
      offsetCol, cap)
    val (olsA0, olsBeta) = relaxRefits(model, cap, params)
    SgdNet.RelaxedPath(model, olsA0, olsBeta, gamma)
  }

  /** Sparse (CSR) twin of [[relaxedFitGaussian]] — glmnet relax over
    * hashed features, where no dense-Gram relax route exists at all:
    * [[fitSparseGaussian]]'s screened path + zero-extra-pass
    * driver-side refits from the captured E-Gram. */
  def relaxedFitSparseGaussian(df: DataFrame, idxCol: String,
                               valCol: String, dim: Int, labelCol: String,
                               params: SgdNetParams = SgdNetParams(),
                               gamma: Double = 1.0): SgdNet.RelaxedPath = {
    require(gamma >= 0 && gamma <= 1, "gamma must be in [0, 1]")
    val cap = new GramCapture
    val model = fitSparseGaussian(df, idxCol, valCol, dim, labelCol,
      params, cap)
    val (olsA0, olsBeta) = relaxRefits(model, cap, params)
    SgdNet.RelaxedPath(model, olsA0, olsBeta, gamma)
  }

  /** Relaxed GLM path at LARGE p (round 18 — glmnet `relax = TRUE`
    * for binomial through the screened chassis): the screened
    * penalized path from [[fitBinomial]], then `SgdNet`'s lockstep
    * unpenalized IRLS refit stage UNCHANGED — the refit passes
    * accumulate only the restricted per-lambda moment blocks
    * (O(Σ|A_l|²) per row), so that machinery never had a p² term;
    * only the penalized stage needed the screened twin. Weights and
    * offset compose exactly as on [[fitBinomial]]. */
  def relaxedFitBinomial(df: DataFrame, featureCols: Seq[String],
                         labelCol: String,
                         params: SgdNetParams = SgdNetParams(family = "binomial"),
                         gamma: Double = 1.0,
                         weightCol: String = null,
                         offsetCol: String = null): SgdNet.RelaxedPath = {
    require(gamma >= 0 && gamma <= 1, "gamma must be in [0, 1]")
    val model = fitBinomial(df, featureCols, labelCol, params, weightCol,
      offsetCol)
    relaxedGlmLargeP(df, featureCols, labelCol, model, params, gamma,
      weightCol, offsetCol)
  }

  /** Poisson twin of [[relaxedFitBinomial]]. */
  def relaxedFitPoisson(df: DataFrame, featureCols: Seq[String],
                        labelCol: String,
                        params: SgdNetParams = SgdNetParams(family = "poisson"),
                        gamma: Double = 1.0,
                        weightCol: String = null,
                        offsetCol: String = null): SgdNet.RelaxedPath = {
    require(gamma >= 0 && gamma <= 1, "gamma must be in [0, 1]")
    val model = fitPoisson(df, featureCols, labelCol, params, weightCol,
      offsetCol)
    relaxedGlmLargeP(df, featureCols, labelCol, model, params, gamma,
      weightCol, offsetCol)
  }

  private def relaxedGlmLargeP(df: DataFrame, featureCols: Seq[String],
                               labelCol: String, model: SgdNetModel,
                               params: SgdNetParams, gamma: Double,
                               weightCol: String,
                               offsetCol: String): SgdNet.RelaxedPath = {
    import org.apache.spark.sql.functions.{col, lit}
    val p = featureCols.size
    val yExpr =
      if (params.family == "binomial") {
        val positive = model.classLabels(1)
        (col(labelCol).cast("string") === positive).cast("double")
      } else col(labelCol).cast("double")
    val wExpr = if (weightCol != null) col(weightCol).cast("double") else lit(1.0)
    val oExpr = if (offsetCol != null) col(offsetCol).cast("double") else lit(0.0)
    val rows0 = df.select((featureCols.map(c => col(c).cast("double")) :+
        yExpr :+ wExpr :+ oExpr): _*)
      .rdd.map { r =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = r.getDouble(j); j += 1 }
        (x, r.getDouble(p), r.getDouble(p + 1), r.getDouble(p + 2))
      }
    val rows = (if (weightCol == null) rows0
      else rows0.filter { t =>
        require(t._3 >= 0, "weights must be non-negative"); t._3 > 0
      }).persist(StorageLevel.MEMORY_AND_DISK)
    try SgdNet.relaxedGlmRefit(rows, model, params, gamma,
      hasOffset = offsetCol != null)
    finally { rows.unpersist(blocking = false); () }
  }

  // unpenalized active-set refits from a captured E-Gram: solve
  // gram_AA·x = b_A on standardized coordinates (LinAlg.solve — the
  // relaxedFromStats exact branch), coefficients back on the original
  // scale, intercept from the (weighted) means
  private def relaxRefits(model: SgdNetModel, cap: GramCapture,
                          params: SgdNetParams): (Array[Double], Array[Array[Double]]) = {
    val p = cap.b.length
    val posOf = cap.eIdx.zipWithIndex.toMap
    val L = model.lambda.length
    val olsBeta = Array.ofDim[Double](L, p)
    val olsA0 = new Array[Double](L)
    for (l <- 0 until L) {
      val active = (0 until p).filter(j => model.beta(l)(0)(j) != 0.0)
      if (active.nonEmpty) {
        val pos = active.map(posOf)
        val a = Array.tabulate(active.size, active.size)((i, j) =>
          cap.gram(pos(i))(pos(j)))
        val bv = active.map(cap.b(_)).toArray
        val sol = LinAlg.solve(a, bv)
        active.zipWithIndex.foreach { case (j, i) =>
          olsBeta(l)(j) = sol(i) / cap.scale(j)
        }
      }
      olsA0(l) = if (params.intercept)
        cap.yMean - (0 until p).map(j => olsBeta(l)(j) * cap.mean(j)).sum
      else 0.0
    }
    (olsA0, olsBeta)
  }

  // ------------------------------------------------------------------- CV

  /** Screened-Gram CROSS-VALIDATION for LARGE p (round 18 — the
    * gaussian cv.glmnet surface past the p² cliff): `CvSgdNet.fit`'s
    * one-pass moment CV holds nfolds × p²/2 doubles (per-fold
    * GramStats), which dies at the same maxGramP boundary as the fit
    * routes. This route reproduces its exact semantics — per-fold
    * moment-subtraction training statistics, per-training-fold
    * standardization, the full-data fit defining the lambda path,
    * closed-form held-out MSE from fold moments, the same
    * cvm/cvsd/lambda.min/lambda.1se arithmetic — while holding only:
    *
    *  - ONE per-fold O(p) moment pass (nfolds × (3p+3) driver state);
    *  - RAW cross-moment slabs per fold over the UNION ever-candidate
    *    set E (nfolds × |E|² driver state, never p²) — each model's
    *    standardized train Gram derives driver-side by moment
    *    subtraction + the standardize formula;
    *  - ONE BATCHED gradient pass per path point serving ALL nfolds+1
    *    models (each row contributes to every model whose train set
    *    holds it; per-row O((nfolds+1)·p) worst case, O(p) while
    *    models are null) — each model's exact KKT backcheck over its
    *    discarded coordinates AND its next strong-rule input;
    *  - for measure="mae" one final scoring scan (|residual| is not a
    *    moment form), per-row O(L·|active|).
    *
    * The alpha grid shares E, the slabs and the moment pass — adding
    * an alpha adds gradient passes only. Verified equal to
    * `CvSgdNet.fit` on every shared regime by LargePSpec. */
  def cvGaussian(df: DataFrame, featureCols: Seq[String], labelCol: String,
                 params: SgdNetParams = SgdNetParams(),
                 nfolds: Int = 10,
                 alphas: Seq[Double] = Seq.empty,
                 measure: String = "deviance",
                 foldCol: org.apache.spark.sql.Column = null): CvSgdNet.CvResult = {
    import org.apache.spark.sql.functions.col
    require(params.family == "gaussian",
      s"LargeP.cvGaussian supports gaussian, not ${params.family}")
    require(nfolds >= 2, "nfolds must be at least 2")
    require(Set("deviance", "mse", "mae").contains(measure),
      s"large-p gaussian CV supports deviance|mse|mae, not '$measure'")
    val alphaGrid = if (alphas.nonEmpty) alphas else Seq(params.alpha)
    alphaGrid.foreach(a => require(a > 0 && a <= 1,
      "the screened-Gram CV needs every alpha in (0, 1] (at alpha = 0 " +
        "every coordinate is active and the per-fold Gram IS p x p)"))
    require(params.penaltyFactor == null && params.lowerLimits == null &&
      params.upperLimits == null && !params.sgdnetCompat &&
      !params.standardizeResponse,
      "LargeP.cvGaussian composes with none of penaltyFactor / box " +
        "limits / sgdnetCompat / standardizeResponse — reduce " +
        "dimensionality and use CvSgdNet.fit for those")
    require(featureCols.nonEmpty, "the predictor matrix (x) is empty.")
    require(params.nlambda > 0, "lambda path cannot be of zero length.")
    if (params.lambda != null)
      require(params.lambda.forall(_ >= 0),
        "penalty strengths (lambdas) must be positive.")
    val p = featureCols.size
    val sc = df.sparkSession.sparkContext
    val M = nfolds + 1 // models: 0..nfolds-1 exclude that fold; nfolds = full

    val hashCols = (featureCols :+ labelCol).map(col)
    val withFold = df.withColumn("__fold",
      CvSgdNet.foldExpr(foldCol, hashCols, nfolds).cast("int"))
    val rows = withFold
      .select((featureCols.map(c => col(c).cast("double")) :+
        col(labelCol).cast("double") :+ col("__fold")): _*)
      .rdd.map { r =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = r.getDouble(j); j += 1 }
        (r.getInt(p + 1), x, r.getDouble(p))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ------------------------------ pass A: per-fold O(p) moments
      val accA = rows.treeAggregate(
          Array.fill(nfolds)(new Array[Double](3 * p + 3)))(
        seqOp = (acc, t) => {
          val a = acc(t._1); val x = t._2; val y = t._3
          var j = 0
          while (j < p) {
            val xj = x(j)
            a(j) += xj; a(p + j) += xj * xj; a(2 * p + j) += xj * y
            j += 1
          }
          a(3 * p) += 1.0; a(3 * p + 1) += y; a(3 * p + 2) += y * y
          acc
        },
        combOp = (a, b) => {
          var f = 0
          while (f < nfolds) {
            val af = a(f); val bf = b(f)
            var i = 0
            while (i < af.length) { af(i) += bf(i); i += 1 }
            f += 1
          }
          a
        }, depth = 2)
      var passes = 1
      CvSgdNet.requireNonEmptyFolds(
        accA.map(_(3 * p).toLong).toIndexedSeq, nfolds)
      // per-model TRAIN moment vectors (model nfolds = total)
      val momTot = new Array[Double](3 * p + 3)
      accA.foreach { a =>
        var i = 0; while (i < momTot.length) { momTot(i) += a(i); i += 1 }
      }
      val mom = Array.tabulate(M) { m =>
        if (m == nfolds) momTot
        else {
          val t = momTot.clone()
          val a = accA(m)
          var i = 0; while (i < t.length) { t(i) -= a(i); i += 1 }
          t
        }
      }
      val nM = Array.tabulate(M)(m => mom(m)(3 * p))
      val meanM = Array.tabulate(M, p)((m, j) => mom(m)(j) / nM(m))
      val sdM = Array.tabulate(M, p) { (m, j) =>
        val v = math.max(mom(m)(p + j) / nM(m) - meanM(m)(j) * meanM(m)(j), 0.0)
        val s = math.sqrt(v); if (s > 0) s else 1.0
      }
      val scaleM = Array.tabulate(M)(m =>
        if (params.standardize) sdM(m) else Array.fill(p)(1.0))
      val centerM = Array.tabulate(M)(m =>
        if (params.intercept) meanM(m) else new Array[Double](p))
      val invScaleM = Array.tabulate(M, p)((m, j) => 1.0 / scaleM(m)(j))
      val yMeanM = Array.tabulate(M)(m => mom(m)(3 * p + 1) / nM(m))
      val yCenM = Array.tabulate(M)(m => if (params.intercept) yMeanM(m) else 0.0)
      val cM = Array.tabulate(M, p)((m, j) =>
        (mom(m)(2 * p + j) / nM(m) - centerM(m)(j) * yMeanM(m) -
          yCenM(m) * meanM(m)(j) + centerM(m)(j) * yCenM(m)) / scaleM(m)(j))
      val nTot = nM(nfolds)
      val yVarTot = math.max(momTot(3 * p + 2) / nTot -
        yMeanM(nfolds) * yMeanM(nfolds), 0.0)

      val bcStd = sc.broadcast((centerM, invScaleM))

      // ---------------- union ever-candidate set E + per-fold RAW slabs
      val posOf = Array.fill(p)(-1) // position in E, -1 outside
      val eIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      // foldSlab(f)(a)(b): SUM over fold-f rows of x_Ea * x_Eb (raw,
      // uncentered; symmetric primitive rows). totSlab = Σ folds.
      val foldSlab = Array.fill(nfolds)(Array.empty[Array[Double]])
      var totSlab = Array.empty[Array[Double]]

      def slabExtend(nn: Array[Int]): Unit = {
        if (nn.isEmpty) return
        requireEFits(eIdx.size + nn.length, "the nfolds x |E|^2 slab")
        val oldE = eIdx.toArray
        val eAfter = oldE ++ nn
        val bc = sc.broadcast((nn, eAfter))
        val block = nn.length * eAfter.length
        val acc = rows.treeAggregate(new Array[Double](nfolds * block))(
          seqOp = (a, t) => {
            val x = t._2
            val (nnL, eL) = bc.value
            val off = t._1 * nnL.length * eL.length
            var ai = 0
            while (ai < nnL.length) {
              val xa = x(nnL(ai))
              val base = off + ai * eL.length
              var bi = 0
              while (bi < eL.length) { a(base + bi) += xa * x(eL(bi)); bi += 1 }
              ai += 1
            }
            a
          },
          combOp = (a, b) => {
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        val mE = eAfter.length
        for (f <- 0 until nfolds) {
          val off = f * block
          foldSlab(f) = growSym(foldSlab(f), mE)((ai, bi) =>
            acc(off + ai * mE + bi))
        }
        val mOld = oldE.length
        totSlab = growSym(totSlab, mE) { (ai, bi) =>
          var t = 0.0
          var f = 0
          while (f < nfolds) { t += foldSlab(f)(mOld + ai)(bi); f += 1 }
          t
        }
        nn.foreach { j => posOf(j) = eIdx.size; eIdx += j }
      }

      // raw train-moment lookup for model m over E positions (a, b)
      def trainRaw(m: Int, a: Int, b: Int): Double =
        if (m == nfolds) totSlab(a)(b)
        else totSlab(a)(b) - foldSlab(m)(a)(b)

      // batched full-p gradient pass: every model's standardized
      // gradient at its current coefficients, ONE scan. Rows in fold f
      // contribute to every model except f (full model: all rows).
      def gradPass(act: Array[(Array[Int], Array[Double])]): Array[Array[Double]] = {
        val bc = sc.broadcast(act)
        val acc = rows.treeAggregate(new Array[Double](M * p))(
          seqOp = (a, t) => {
            val f = t._1; val x = t._2
            val actL = bc.value
            val (ctrs, invS) = bcStd.value
            var m = 0
            while (m < actL.length) {
              if (m != f) {
                val (ai, av) = actL(m)
                if (ai.length > 0) {
                  val ctr = ctrs(m); val inv = invS(m)
                  var s = 0.0
                  var i = 0
                  while (i < ai.length) {
                    val j = ai(i)
                    s += av(i) * (x(j) - ctr(j)) * inv(j)
                    i += 1
                  }
                  if (s != 0.0) {
                    val base = m * x.length
                    var j = 0
                    while (j < x.length) {
                      a(base + j) += (x(j) - ctr(j)) * inv(j) * s
                      j += 1
                    }
                  }
                }
              }
              m += 1
            }
            a
          },
          combOp = (a, b) => {
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        Array.tabulate(M, p)((m, j) => cM(m)(j) - acc(m * p + j) / nM(m))
      }

      // ------------------------------------------------ per-alpha paths
      val paths = alphaGrid.map { alpha =>
        val prm = params.copy(alpha = alpha)
        val minRatio = if (prm.lambdaMinRatio.isNaN)
          LambdaPath.defaultMinRatio(nTot.toLong, p) else prm.lambdaMinRatio
        val lambdas = if (prm.lambda != null) prm.lambda
          else LambdaPath.build(Array(cM(nfolds)), alpha, prm.nlambda,
            minRatio, null)
        val L = lambdas.length
        // per-model path state
        val beta = Array.fill(M)(new Array[Double](p)) // standardized
        // per-model candidate sets (insertion order = CD order)
        val inCand = Array.fill(M)(new Array[Boolean](p))
        val cand = Array.fill(M)(scala.collection.mutable.ArrayBuffer.empty[Int])
        def addCand(m: Int, j: Int,
                    needE: scala.collection.mutable.LinkedHashSet[Int]): Unit = {
          inCand(m)(j) = true; cand(m) += j
          if (posOf(j) < 0) needE += j
        }
        val grad = Array.tabulate(M)(m => cM(m).clone())
        val lamPrev0 = Array.tabulate(M)(m =>
          cM(m).map(math.abs).max / math.max(alpha, 1e-3))
        val a0Out = Array.ofDim[Double](M, L)
        val bOut = Array.ofDim[Array[Double]](M, L) // SPARSE via actIdx
        val actOut = Array.ofDim[Array[Int]](M, L)
        val foldScores = Array.ofDim[Double](nfolds, L)
        val fullBeta = Array.ofDim[Double](L, 1, p)
        val fullA0 = Array.ofDim[Double](L, 1)
        val devRatio = new Array[Double](L)
        val dfGate = new SgdNet.DfGate(prm, p)
        var cutL = L
        var lamPrev = lamPrev0
        var l = 0
        while (l < L) {
          val lam = lambdas(l)
          val tol = math.max(prm.thresh * 1e-4, 1e-12) * math.max(lam, 1.0)
          // floored strong rule per model; union E extension in ONE
          // slab pass
          val bounds =
            Array.tabulate(M)(m => screenBound(alpha, lam, lamPrev(m)))
          val needE = scala.collection.mutable.LinkedHashSet.empty[Int]
          for (m <- 0 until M)
            screened(grad(m), beta(m), inCand(m), bounds(m))
              .foreach(j => addCand(m, j, needE))
          slabExtend(needE.toArray)
          var settled = false
          while (!settled) {
            // solve every model over its candidate set (driver CD on
            // the standardized train sub-Gram from the raw slabs)
            for (m <- 0 until M) {
              val cIdx = cand(m).toArray
              val k = cIdx.length
              if (k > 0) {
                val ctr = centerM(m); val mn = meanM(m); val scl = scaleM(m)
                val nm = nM(m)
                val pos = cIdx.map(posOf(_))
                val aSub = Array.tabulate(k, k) { (x2, y2) =>
                  val i = cIdx(x2); val j = cIdx(y2)
                  (trainRaw(m, pos(x2), pos(y2)) / nm - ctr(i) * mn(j) -
                    ctr(j) * mn(i) + ctr(i) * ctr(j)) / (scl(i) * scl(j))
                }
                val cSub = cIdx.map(cM(m))
                val init = cIdx.map(beta(m))
                val r = CoordinateDescent.solve(aSub, cSub,
                  new Array[Double](k), 0.0, 1.0, lam, alpha,
                  intercept = false, init = init,
                  thresh = prm.thresh * 1e-4, maxIter = prm.maxit)
                java.util.Arrays.fill(beta(m), 0.0)
                var x2 = 0
                while (x2 < k) { beta(m)(cIdx(x2)) = r.beta(x2); x2 += 1 }
              }
            }
            // ONE batched gradient pass -> exact KKT for every model
            val acts = Array.tabulate(M) { m =>
              val ai = (0 until p).filter(beta(m)(_) != 0.0).toArray
              (ai, ai.map(beta(m)))
            }
            val g = gradPass(acts)
            for (m <- 0 until M) grad(m) = g(m)
            val needE2 = scala.collection.mutable.LinkedHashSet.empty[Int]
            var any = false
            // exact KKT per model: a model with violators also takes its
            // columns at or above its screening bound
            for (m <- 0 until M) {
              val back = reentry(grad(m), inCand(m), lam * alpha + tol, bounds(m))
              if (back.nonEmpty) {
                any = true; back.foreach(j => addCand(m, j, needE2))
              }
            }
            if (!any) settled = true
            else slabExtend(needE2.toArray)
          }
          // record: full model through the DfGate; folds scored
          if (!dfGate.admit(j => beta(nfolds)(j) != 0.0)) { cutL = l; l = L }
          else {
            for (m <- 0 until M) {
              val ai = (0 until p).filter(beta(m)(_) != 0.0).toArray
              val bOrig = ai.map(j => beta(m)(j) / scaleM(m)(j))
              val a0 = if (prm.intercept)
                yMeanM(m) - ai.indices.map(i =>
                  bOrig(i) * meanM(m)(ai(i))).sum
              else 0.0
              actOut(m)(l) = ai; bOut(m)(l) = bOrig; a0Out(m)(l) = a0
              if (m < nfolds && measure != "mae") {
                // held-out MSE from fold-m raw moments (closed form)
                val fa = accA(m)
                val nf = fa(3 * p)
                var quad = 0.0; var bx = 0.0; var bxy = 0.0
                for (i <- ai.indices) {
                  val j = ai(i)
                  bx += bOrig(i) * fa(j) / nf
                  bxy += bOrig(i) * fa(2 * p + j) / nf
                  var s = 0.0
                  for (i2 <- ai.indices)
                    s += foldSlab(m)(posOf(j))(posOf(ai(i2))) / nf * bOrig(i2)
                  quad += bOrig(i) * s
                }
                foldScores(m)(l) = fa(3 * p + 2) / nf -
                  2 * a0 * fa(3 * p + 1) / nf + a0 * a0 +
                  quad + 2 * a0 * bx - 2 * bxy
              }
              if (m == nfolds) {
                for (i <- ai.indices) fullBeta(l)(0)(ai(i)) = bOrig(i)
                fullA0(l)(0) = a0
                // RSS/n from the slab moments (standardized form)
                val ySecond = if (prm.intercept) yVarTot
                  else yVarTot + yMeanM(nfolds) * yMeanM(nfolds)
                var bb = 0.0; var gq = 0.0
                val ctr = centerM(m); val mn = meanM(m); val scl = scaleM(m)
                for (i <- ai.indices) {
                  val j = ai(i)
                  bb += cM(m)(j) * beta(m)(j)
                  var s = 0.0
                  for (i2 <- ai.indices) {
                    val j2 = ai(i2)
                    s += (trainRaw(m, posOf(j), posOf(j2)) / nTot -
                      ctr(j) * mn(j2) - ctr(j2) * mn(j) +
                      ctr(j) * ctr(j2)) / (scl(j) * scl(j2)) * beta(m)(j2)
                  }
                  gq += beta(m)(j) * s
                }
                val rssOverN = ySecond - 2 * bb + gq
                devRatio(l) = if (ySecond > 0) 1.0 - rssOverN / ySecond else 0.0
              }
            }
            lamPrev = Array.fill(M)(lam)
            l += 1
          }
        }
        require(cutL > 0, "dfmax/pmax exclude every path point")
        val lambdasT = lambdas.take(cutL)
        if (measure == "mae") {
          // one scoring scan: each row scores its OWN fold's model at
          // every path point (per-row O(L x |active|))
          val bc = sc.broadcast((a0Out, bOut, actOut, cutL))
          val acc = rows.treeAggregate(new Array[Double](nfolds * cutL))(
            seqOp = (a, t) => {
              val f = t._1; val x = t._2; val y = t._3
              val (a0s, bs, as2, lc) = bc.value
              var l2 = 0
              while (l2 < lc) {
                var eta = a0s(f)(l2)
                val ai = as2(f)(l2); val bv = bs(f)(l2)
                var i = 0
                while (i < ai.length) { eta += bv(i) * x(ai(i)); i += 1 }
                a(f * lc + l2) += math.abs(y - eta)
                l2 += 1
              }
              a
            },
            combOp = (a, b) => {
              var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
            }, depth = 2)
          passes += 1
          bc.destroy()
          for (f <- 0 until nfolds; l2 <- 0 until cutL)
            foldScores(f)(l2) = acc(f * cutL + l2) / accA(f)(3 * p)
        }
        val nulldev = nTot * (if (prm.intercept) yVarTot
          else yVarTot + yMeanM(nfolds) * yMeanM(nfolds))
        val full = new SgdNetModel("gaussian", featureCols.toArray,
          Array(labelCol), Array.empty, lambdasT, fullA0.take(cutL),
          fullBeta.take(cutL), nulldev, devRatio.take(cutL),
          nTot.toLong, passes, prm)
        CvSgdNet.summarize(alpha, lambdasT,
          foldScores.map(_.take(cutL)), full)
      }
      bcStd.destroy()
      val best = paths.minBy(pth => pth.cvm.min)
      CvSgdNet.CvResult(paths, best)
    } finally rows.unpersist(blocking = false)
  }

  // -------------------------------------------------------- sparse CV

  /** Screened-Gram CROSS-VALIDATION for LARGE-DIM SPARSE (CSR) input
    * (round 18 — the gaussian cv.glmnet surface over hashed features,
    * where `CvSgdNet.fitSparse`'s per-fold GramStats hold
    * nfolds·p²/2 doubles): [[cvGaussian]]'s exact driver algebra —
    * per-fold moment-subtraction train statistics, per-training-fold
    * standardization, the full-data path, closed-form held-out MSE
    * from fold moments, identical cvm/cvsd/lambda.min/lambda.1se —
    * with every cluster pass SPARSE per row:
    *
    *  - pass A: per-fold O(nnz)-per-row raw moments;
    *  - slab extensions: per-fold RAW cross-moment slabs over the
    *    UNION ever-candidate set E via slot lookups (a raw cross
    *    moment needs both features in the row — O(k_new·k_E)/row);
    *  - ONE BATCHED sparse gradient pass per path point serving all
    *    nfolds+1 models: per model the centering-corrected form
    *    (Σxᵢⱼ·innerᵢ − cⱼ·Σinnerᵢ)/sⱼ splits the standardized
    *    gradient into sparse accumulations plus a driver-side
    *    correction — never an O(p) row loop;
    *  - measure="mae": one sparse scoring scan over active sets.
    *
    * The alpha grid shares E, the slabs and the moment pass. Verified
    * equal to `CvSgdNet.fitSparse` (gaussian) and to the dense
    * [[cvGaussian]] on densified rows by LargePSpec. Same contract as
    * [[fitSparseGaussian]] plus nfolds ≥ 2; no weightCol (the
    * weighted sparse CV lives on `CvSgdNet.fitSparse`). */
  def cvSparseGaussian(df: DataFrame, idxCol: String, valCol: String,
                       dim: Int, labelCol: String,
                       params: SgdNetParams = SgdNetParams(),
                       nfolds: Int = 10,
                       alphas: Seq[Double] = Seq.empty,
                       measure: String = "deviance",
                       foldCol: org.apache.spark.sql.Column = null): CvSgdNet.CvResult = {
    import org.apache.spark.sql.functions.col
    require(params.family == "gaussian",
      s"LargeP.cvSparseGaussian supports gaussian, not ${params.family}")
    require(nfolds >= 2, "nfolds must be at least 2")
    require(Set("deviance", "mse", "mae").contains(measure),
      s"large-p sparse gaussian CV supports deviance|mse|mae, not '$measure'")
    val alphaGrid = if (alphas.nonEmpty) alphas else Seq(params.alpha)
    alphaGrid.foreach(a => require(a > 0 && a <= 1,
      "the screened-Gram CV needs every alpha in (0, 1] (at alpha = 0 " +
        "every coordinate is active and the per-fold Gram IS p x p)"))
    require(params.penaltyFactor == null && params.lowerLimits == null &&
      params.upperLimits == null && !params.sgdnetCompat &&
      !params.standardizeResponse,
      "LargeP.cvSparseGaussian composes with none of penaltyFactor / " +
        "box limits / sgdnetCompat / standardizeResponse — reduce " +
        "dimensionality and use CvSgdNet.fitSparse for those")
    require(dim > 0, "the predictor matrix (x) is empty.")
    require(params.nlambda > 0, "lambda path cannot be of zero length.")
    if (params.lambda != null)
      require(params.lambda.forall(_ >= 0),
        "penalty strengths (lambdas) must be positive.")
    val p = dim
    val sc = df.sparkSession.sparkContext
    val M = nfolds + 1

    // the CvSgdNet.fitSparse fold convention: hash (idx, vals, label)
    val hashCols = Seq(col(idxCol), col(valCol), col(labelCol))
    val rows = df
      .withColumn("__fold", CvSgdNet.foldExpr(foldCol, hashCols, nfolds).cast("int"))
      .select(col(idxCol), col(valCol).cast("array<double>"),
        col(labelCol).cast("double"), col("__fold"))
      .rdd.map { r =>
        (r.getInt(3), r.getSeq[Int](0).toArray,
          r.getSeq[Double](1).toArray, r.getDouble(2))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ------------------------ pass A: per-fold O(nnz)-per-row moments
      val accA = rows.treeAggregate(
          Array.fill(nfolds)(new Array[Double](3 * p + 3)))(
        seqOp = (acc, t) => {
          val a = acc(t._1); val ix = t._2; val vs = t._3; val y = t._4
          var k = 0
          while (k < ix.length) {
            val j = ix(k); val v = vs(k)
            a(j) += v; a(p + j) += v * v; a(2 * p + j) += v * y
            k += 1
          }
          a(3 * p) += 1.0; a(3 * p + 1) += y; a(3 * p + 2) += y * y
          acc
        },
        combOp = (a, b) => {
          var f = 0
          while (f < nfolds) {
            val af = a(f); val bf = b(f)
            var i = 0
            while (i < af.length) { af(i) += bf(i); i += 1 }
            f += 1
          }
          a
        }, depth = 2)
      var passes = 1
      CvSgdNet.requireNonEmptyFolds(
        accA.map(_(3 * p).toLong).toIndexedSeq, nfolds)
      val momTot = new Array[Double](3 * p + 3)
      accA.foreach { a =>
        var i = 0; while (i < momTot.length) { momTot(i) += a(i); i += 1 }
      }
      val mom = Array.tabulate(M) { m =>
        if (m == nfolds) momTot
        else {
          val t = momTot.clone()
          val a = accA(m)
          var i = 0; while (i < t.length) { t(i) -= a(i); i += 1 }
          t
        }
      }
      val nM = Array.tabulate(M)(m => mom(m)(3 * p))
      val meanM = Array.tabulate(M, p)((m, j) => mom(m)(j) / nM(m))
      val sdM = Array.tabulate(M, p) { (m, j) =>
        val v = math.max(mom(m)(p + j) / nM(m) - meanM(m)(j) * meanM(m)(j), 0.0)
        val s = math.sqrt(v); if (s > 0) s else 1.0
      }
      val scaleM = Array.tabulate(M)(m =>
        if (params.standardize) sdM(m) else Array.fill(p)(1.0))
      val centerM = Array.tabulate(M)(m =>
        if (params.intercept) meanM(m) else new Array[Double](p))
      val invScaleM = Array.tabulate(M, p)((m, j) => 1.0 / scaleM(m)(j))
      val yMeanM = Array.tabulate(M)(m => mom(m)(3 * p + 1) / nM(m))
      val yCenM = Array.tabulate(M)(m => if (params.intercept) yMeanM(m) else 0.0)
      val cM = Array.tabulate(M, p)((m, j) =>
        (mom(m)(2 * p + j) / nM(m) - centerM(m)(j) * yMeanM(m) -
          yCenM(m) * meanM(m)(j) + centerM(m)(j) * yCenM(m)) / scaleM(m)(j))
      val nTot = nM(nfolds)
      val yVarTot = math.max(momTot(3 * p + 2) / nTot -
        yMeanM(nfolds) * yMeanM(nfolds), 0.0)

      // ---------------- union ever-candidate set E + per-fold RAW slabs
      val posOf = Array.fill(p)(-1) // position in E, -1 outside
      val eIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      val foldSlab = Array.fill(nfolds)(Array.empty[Array[Double]])
      var totSlab = Array.empty[Array[Double]]

      def slabExtend(nn: Array[Int]): Unit = {
        if (nn.isEmpty) return
        requireEFits(eIdx.size + nn.length, "the nfolds x |E|^2 slab")
        val oldE = eIdx.toArray
        val eAfter = oldE ++ nn
        // slot lookups so each row finds its nnz inside each set in
        // O(nnz) — broadcast int arrays, -1 = not a member
        val slotNew = Array.fill(p)(-1)
        nn.indices.foreach(i => slotNew(nn(i)) = i)
        val slotE = Array.fill(p)(-1)
        eAfter.indices.foreach(i => slotE(eAfter(i)) = i)
        val block = nn.length * eAfter.length
        val bc = sc.broadcast((slotNew, slotE, nn.length, eAfter.length))
        val acc = rows.treeAggregate(new Array[Double](nfolds * block))(
          seqOp = (a, t) => {
            val (fold, ix, vs, _) = t
            val (sN, sE, nNew, nE) = bc.value
            var k = 0
            var cntN = 0; var cntE = 0
            while (k < ix.length) {
              val j = ix(k)
              if (sN(j) >= 0) cntN += 1
              if (sE(j) >= 0) cntE += 1
              k += 1
            }
            if (cntN > 0 && cntE > 0) {
              val nIdx = new Array[Int](cntN); val nVal = new Array[Double](cntN)
              val eIdx2 = new Array[Int](cntE); val eVal = new Array[Double](cntE)
              k = 0; var a1 = 0; var a2 = 0
              while (k < ix.length) {
                val j = ix(k)
                val s1 = sN(j); val s2 = sE(j)
                if (s1 >= 0) { nIdx(a1) = s1; nVal(a1) = vs(k); a1 += 1 }
                if (s2 >= 0) { eIdx2(a2) = s2; eVal(a2) = vs(k); a2 += 1 }
                k += 1
              }
              val off = fold * nNew * nE
              var i1 = 0
              while (i1 < cntN) {
                val base = off + nIdx(i1) * nE
                val v1 = nVal(i1)
                var i2 = 0
                while (i2 < cntE) {
                  a(base + eIdx2(i2)) += v1 * eVal(i2)
                  i2 += 1
                }
                i1 += 1
              }
            }
            a
          },
          combOp = (a, b) => {
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        val mE = eAfter.length
        for (f <- 0 until nfolds) {
          val off = f * block
          foldSlab(f) = growSym(foldSlab(f), mE)((ai, bi) =>
            acc(off + ai * mE + bi))
        }
        val mOld = oldE.length
        totSlab = growSym(totSlab, mE) { (ai, bi) =>
          var t = 0.0
          var f = 0
          while (f < nfolds) { t += foldSlab(f)(mOld + ai)(bi); f += 1 }
          t
        }
        nn.foreach { j => posOf(j) = eIdx.size; eIdx += j }
      }

      def trainRaw(m: Int, a: Int, b: Int): Double =
        if (m == nfolds) totSlab(a)(b)
        else totSlab(a)(b) - foldSlab(m)(a)(b)

      // batched SPARSE full-p gradient pass: every model's standardized
      // gradient at its coefficients via the centering-corrected form —
      // per model, p + 1 accumulator slots (Σ x_ij·inner_i, Σ inner_i)
      def gradPass(act: Array[(Array[Int], Array[Double])]): Array[Array[Double]] = {
        // per model: slot lookup over its active set, beta·invScale and
        // the constant center·beta·invScale sum
        val actSlot = Array.fill(M)(null: Array[Int])
        val betaInv = Array.fill(M)(null: Array[Double])
        val cAct = new Array[Double](M)
        for (m <- 0 until M) {
          val (ai, av) = act(m)
          if (ai.length > 0) {
            val sl = Array.fill(p)(-1)
            ai.indices.foreach(i => sl(ai(i)) = i)
            actSlot(m) = sl
            betaInv(m) = ai.indices.map(i => av(i) * invScaleM(m)(ai(i))).toArray
            cAct(m) = ai.indices.map(i =>
              betaInv(m)(i) * centerM(m)(ai(i))).sum
          }
        }
        val anyAct = (0 until M).exists(actSlot(_) != null)
        if (!anyAct) return Array.tabulate(M)(m => cM(m).clone())
        val bc = sc.broadcast((actSlot, betaInv, cAct))
        val acc = rows.treeAggregate(new Array[Double](M * (p + 1)))(
          seqOp = (a, t) => {
            val (fold, ix, vs, _) = t
            val (sA, bI, c0) = bc.value
            var m = 0
            while (m < M) {
              if (m != fold && sA(m) != null) {
                val sl = sA(m); val bi = bI(m)
                var inner = -c0(m)
                var k = 0
                while (k < ix.length) {
                  val s = sl(ix(k))
                  if (s >= 0) inner += bi(s) * vs(k)
                  k += 1
                }
                if (inner != 0.0) {
                  val off = m * (p + 1)
                  k = 0
                  while (k < ix.length) {
                    a(off + ix(k)) += vs(k) * inner
                    k += 1
                  }
                  a(off + p) += inner
                }
              }
              m += 1
            }
            a
          },
          combOp = (a, b2) => {
            var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        Array.tabulate(M) { m =>
          if (actSlot(m) == null) cM(m).clone()
          else {
            val off = m * (p + 1)
            val t = acc(off + p)
            Array.tabulate(p)(j => cM(m)(j) -
              (acc(off + j) - centerM(m)(j) * t) * invScaleM(m)(j) / nM(m))
          }
        }
      }

      // ------------------------------------------------ per-alpha paths
      val paths = alphaGrid.map { alpha =>
        val prm = params.copy(alpha = alpha)
        val minRatio = if (prm.lambdaMinRatio.isNaN)
          LambdaPath.defaultMinRatio(nTot.toLong, p) else prm.lambdaMinRatio
        val lambdas = if (prm.lambda != null) prm.lambda
          else LambdaPath.build(Array(cM(nfolds)), alpha, prm.nlambda,
            minRatio, null)
        val L = lambdas.length
        val beta = Array.fill(M)(new Array[Double](p))
        // per-model candidate sets (insertion order = CD order)
        val inCand = Array.fill(M)(new Array[Boolean](p))
        val cand = Array.fill(M)(scala.collection.mutable.ArrayBuffer.empty[Int])
        def addCand(m: Int, j: Int,
                    needE: scala.collection.mutable.LinkedHashSet[Int]): Unit = {
          inCand(m)(j) = true; cand(m) += j
          if (posOf(j) < 0) needE += j
        }
        val grad = Array.tabulate(M)(m => cM(m).clone())
        val lamPrev0 = Array.tabulate(M)(m =>
          cM(m).map(math.abs).max / math.max(alpha, 1e-3))
        val a0Out = Array.ofDim[Double](M, L)
        val bOut = Array.ofDim[Array[Double]](M, L)
        val actOut = Array.ofDim[Array[Int]](M, L)
        val foldScores = Array.ofDim[Double](nfolds, L)
        val fullBeta = Array.ofDim[Double](L, 1, p)
        val fullA0 = Array.ofDim[Double](L, 1)
        val devRatio = new Array[Double](L)
        val dfGate = new SgdNet.DfGate(prm, p)
        var cutL = L
        var lamPrev = lamPrev0
        var l = 0
        while (l < L) {
          val lam = lambdas(l)
          val tol = math.max(prm.thresh * 1e-4, 1e-12) * math.max(lam, 1.0)
          // floored strong rule per model (cvGaussian)
          val bounds =
            Array.tabulate(M)(m => screenBound(alpha, lam, lamPrev(m)))
          val needE = scala.collection.mutable.LinkedHashSet.empty[Int]
          for (m <- 0 until M)
            screened(grad(m), beta(m), inCand(m), bounds(m))
              .foreach(j => addCand(m, j, needE))
          slabExtend(needE.toArray)
          var settled = false
          while (!settled) {
            for (m <- 0 until M) {
              val cIdx = cand(m).toArray
              val k = cIdx.length
              if (k > 0) {
                val ctr = centerM(m); val mn = meanM(m); val scl = scaleM(m)
                val nm = nM(m)
                val pos = cIdx.map(posOf(_))
                val aSub = Array.tabulate(k, k) { (x2, y2) =>
                  val i = cIdx(x2); val j = cIdx(y2)
                  (trainRaw(m, pos(x2), pos(y2)) / nm - ctr(i) * mn(j) -
                    ctr(j) * mn(i) + ctr(i) * ctr(j)) / (scl(i) * scl(j))
                }
                val cSub = cIdx.map(cM(m))
                val init = cIdx.map(beta(m))
                val r = CoordinateDescent.solve(aSub, cSub,
                  new Array[Double](k), 0.0, 1.0, lam, alpha,
                  intercept = false, init = init,
                  thresh = prm.thresh * 1e-4, maxIter = prm.maxit)
                java.util.Arrays.fill(beta(m), 0.0)
                var x2 = 0
                while (x2 < k) { beta(m)(cIdx(x2)) = r.beta(x2); x2 += 1 }
              }
            }
            val acts = Array.tabulate(M) { m =>
              val ai = (0 until p).filter(beta(m)(_) != 0.0).toArray
              (ai, ai.map(beta(m)))
            }
            val g = gradPass(acts)
            for (m <- 0 until M) grad(m) = g(m)
            val needE2 = scala.collection.mutable.LinkedHashSet.empty[Int]
            var any = false
            // exact KKT per model: a model with violators also takes its
            // columns at or above its screening bound
            for (m <- 0 until M) {
              val back = reentry(grad(m), inCand(m), lam * alpha + tol, bounds(m))
              if (back.nonEmpty) {
                any = true; back.foreach(j => addCand(m, j, needE2))
              }
            }
            if (!any) settled = true
            else slabExtend(needE2.toArray)
          }
          if (!dfGate.admit(j => beta(nfolds)(j) != 0.0)) { cutL = l; l = L }
          else {
            for (m <- 0 until M) {
              val ai = (0 until p).filter(beta(m)(_) != 0.0).toArray
              val bOrig = ai.map(j => beta(m)(j) / scaleM(m)(j))
              val a0 = if (prm.intercept)
                yMeanM(m) - ai.indices.map(i =>
                  bOrig(i) * meanM(m)(ai(i))).sum
              else 0.0
              actOut(m)(l) = ai; bOut(m)(l) = bOrig; a0Out(m)(l) = a0
              if (m < nfolds && measure != "mae") {
                val fa = accA(m)
                val nf = fa(3 * p)
                var quad = 0.0; var bx = 0.0; var bxy = 0.0
                for (i <- ai.indices) {
                  val j = ai(i)
                  bx += bOrig(i) * fa(j) / nf
                  bxy += bOrig(i) * fa(2 * p + j) / nf
                  var s = 0.0
                  for (i2 <- ai.indices)
                    s += foldSlab(m)(posOf(j))(posOf(ai(i2))) / nf * bOrig(i2)
                  quad += bOrig(i) * s
                }
                foldScores(m)(l) = fa(3 * p + 2) / nf -
                  2 * a0 * fa(3 * p + 1) / nf + a0 * a0 +
                  quad + 2 * a0 * bx - 2 * bxy
              }
              if (m == nfolds) {
                for (i <- ai.indices) fullBeta(l)(0)(ai(i)) = bOrig(i)
                fullA0(l)(0) = a0
                val ySecond = if (prm.intercept) yVarTot
                  else yVarTot + yMeanM(nfolds) * yMeanM(nfolds)
                var bb = 0.0; var gq = 0.0
                val ctr = centerM(m); val mn = meanM(m); val scl = scaleM(m)
                for (i <- ai.indices) {
                  val j = ai(i)
                  bb += cM(m)(j) * beta(m)(j)
                  var s = 0.0
                  for (i2 <- ai.indices) {
                    val j2 = ai(i2)
                    s += (trainRaw(m, posOf(j), posOf(j2)) / nTot -
                      ctr(j) * mn(j2) - ctr(j2) * mn(j) +
                      ctr(j) * ctr(j2)) / (scl(j) * scl(j2)) * beta(m)(j2)
                  }
                  gq += beta(m)(j) * s
                }
                val rssOverN = ySecond - 2 * bb + gq
                devRatio(l) = if (ySecond > 0) 1.0 - rssOverN / ySecond else 0.0
              }
            }
            lamPrev = Array.fill(M)(lam)
            l += 1
          }
        }
        require(cutL > 0, "dfmax/pmax exclude every path point")
        val lambdasT = lambdas.take(cutL)
        if (measure == "mae") {
          // one SPARSE scoring scan: each row scores its own fold's
          // model at every path point over the active sets only
          val bc = sc.broadcast((a0Out, bOut, actOut, cutL))
          val acc = rows.treeAggregate(new Array[Double](nfolds * cutL))(
            seqOp = (a, t) => {
              val (f, ix, vs, y) = t
              val (a0s, bs, as2, lc) = bc.value
              var l2 = 0
              while (l2 < lc) {
                var eta = a0s(f)(l2)
                val ai = as2(f)(l2); val bv = bs(f)(l2)
                // ai is sorted ascending (filter over 0 until p) and so
                // is ix — merge-join the two sparse lists
                var i = 0; var k = 0
                while (i < ai.length && k < ix.length) {
                  val d = ai(i) - ix(k)
                  if (d == 0) { eta += bv(i) * vs(k); i += 1; k += 1 }
                  else if (d < 0) i += 1
                  else k += 1
                }
                a(f * lc + l2) += math.abs(y - eta)
                l2 += 1
              }
              a
            },
            combOp = (a, b) => {
              var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
            }, depth = 2)
          passes += 1
          bc.destroy()
          for (f <- 0 until nfolds; l2 <- 0 until cutL)
            foldScores(f)(l2) = acc(f * cutL + l2) / accA(f)(3 * p)
        }
        val nulldev = nTot * (if (prm.intercept) yVarTot
          else yVarTot + yMeanM(nfolds) * yMeanM(nfolds))
        val full = new SgdNetModel("gaussian", (0 until p).map(j => s"V$j").toArray,
          Array(labelCol), Array.empty, lambdasT, fullA0.take(cutL),
          fullBeta.take(cutL), nulldev, devRatio.take(cutL),
          nTot.toLong, passes, prm)
        CvSgdNet.summarize(alpha, lambdasT,
          foldScores.map(_.take(cutL)), full)
      }
      val best = paths.minBy(pth => pth.cvm.min)
      CvSgdNet.CvResult(paths, best)
    } finally rows.unpersist(blocking = false)
  }

  // -------------------------------------------------------------- GLM CV

  /** Screened-Gram IRLS CROSS-VALIDATION for LARGE p (round 18 — the
    * binomial cv.glmnet surface past the p² cliff): reproduces the
    * shared-pass GLM CV semantics of `CvSgdNet.fit` (all nfolds+1
    * models advance in LOCKSTEP — the full-data model rides as the
    * virtual empty fold; per-training-fold standardization from
    * moment subtraction; the lambda grid from the full-data
    * standardized gradient; held-out deviance/mse/mae/class from one
    * scoring pass, auc from the fold-partitioned rank chain; identical
    * cvm/cvsd/lambda.min/lambda.1se arithmetic) while holding
    * O(M·|E|²) driver state instead of the shared route's
    * (nfolds+1)·p²/2 weighted Grams. Each Newton round is the
    * [[fitBinomial]] fused discipline BATCHED across models: ONE pass
    * computes every active model's full-p WLS KKT vector at its
    * candidate point (frozen weights) AND its next-step weighted
    * moments over the grow-only UNION candidate set E — violators
    * re-enter E and the step re-solves, so each model's path equals
    * its full-Gram shared-CV twin within the convergence tolerance
    * (the same optimality slack the shared route's gram-carry has).
    * Per-model a0/beta/grad is M·p driver state; the alpha grid
    * shares the moment pass and E. Same contract surface as
    * [[fitBinomial]] plus nfolds ≥ 2; measures
    * deviance|mse|mae|class|auc (selection minimizes cvm for EVERY
    * measure — the documented reference-parity which.min convention,
    * auc included). */
  def cvBinomial(df: DataFrame, featureCols: Seq[String], labelCol: String,
                 params: SgdNetParams = SgdNetParams(family = "binomial"),
                 nfolds: Int = 10,
                 alphas: Seq[Double] = Seq.empty,
                 measure: String = "deviance",
                 foldCol: org.apache.spark.sql.Column = null): CvSgdNet.CvResult = {
    require(params.family == "binomial",
      s"LargeP.cvBinomial supports binomial, not ${params.family}")
    require(Set("deviance", "mse", "mae", "class", "auc").contains(measure),
      s"unknown type.measure '$measure' (want deviance|mse|mae|class|auc)")
    cvGlmImpl(df, featureCols, labelCol, "binomial", params, nfolds,
      alphas, measure, foldCol)
  }

  /** Poisson twin of [[cvBinomial]] (log link, the [[fitPoisson]]
    * conventions; measures deviance|mse|mae — class/auc are
    * binomial-only, as in `CvSgdNet.fit`). */
  def cvPoisson(df: DataFrame, featureCols: Seq[String], labelCol: String,
                params: SgdNetParams = SgdNetParams(family = "poisson"),
                nfolds: Int = 10,
                alphas: Seq[Double] = Seq.empty,
                measure: String = "deviance",
                foldCol: org.apache.spark.sql.Column = null): CvSgdNet.CvResult = {
    require(params.family == "poisson",
      s"LargeP.cvPoisson supports poisson, not ${params.family}")
    require(Set("deviance", "mse", "mae").contains(measure),
      s"large-p poisson CV supports deviance|mse|mae, not '$measure'")
    cvGlmImpl(df, featureCols, labelCol, "poisson", params, nfolds,
      alphas, measure, foldCol)
  }

  private def cvGlmImpl(df: DataFrame, featureCols: Seq[String],
                        labelCol: String, family: String,
                        params: SgdNetParams, nfolds: Int,
                        alphas: Seq[Double], measure: String,
                        foldCol: org.apache.spark.sql.Column): CvSgdNet.CvResult = {
    import org.apache.spark.sql.functions.col
    val binom = family == "binomial"
    require(nfolds >= 2, "nfolds must be at least 2")
    requireGlmContract(params, featureCols)
    val alphaGrid = if (alphas.nonEmpty) alphas else Seq(params.alpha)
    alphaGrid.foreach(a => require(a > 0 && a <= 1,
      "the screened-Gram GLM CV needs every alpha in (0, 1] (at " +
        "alpha = 0 every coordinate is active and the per-model " +
        "weighted Gram IS p x p)"))
    val p = featureCols.size
    val sc = df.sparkSession.sparkContext
    val M = nfolds + 1 // models: 0..nfolds-1 exclude that fold; nfolds = full

    val classes: Array[String] =
      if (binom) SgdNet.binomialClasses(df, labelCol) else Array.empty
    val yExpr =
      if (binom) (col(labelCol).cast("string") === classes(1)).cast("double")
      else col(labelCol).cast("double")

    val hashCols = (featureCols :+ labelCol).map(col)
    val withFold = df.withColumn("__fold",
      CvSgdNet.foldExpr(foldCol, hashCols, nfolds).cast("int"))
    // spread a thin input before the batched pass loop (the
    // CvSgdNet.cvIrls rationale: every fused KKT/moment pass re-scans
    // these blocks; no-op at scale — see graft.ops.Spread)
    val rows = graft.ops.Spread.thin(withFold
      .select((featureCols.map(c => col(c).cast("double")) :+ yExpr :+
        col("__fold")): _*),
      target = math.min(df.sparkSession.sparkContext.defaultParallelism, 8))
      .rdd.map { r =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = r.getDouble(j); j += 1 }
        (r.getInt(p + 1), x, r.getDouble(p))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ------------------------------ pass A: per-fold O(p) moments
      val accA = rows.treeAggregate(
          Array.fill(nfolds)(new Array[Double](3 * p + 3)))(
        seqOp = (acc, t) => {
          val a = acc(t._1); val x = t._2; val y = t._3
          var j = 0
          while (j < p) {
            val xj = x(j)
            a(j) += xj; a(p + j) += xj * xj; a(2 * p + j) += xj * y
            j += 1
          }
          a(3 * p) += 1.0; a(3 * p + 1) += y; a(3 * p + 2) += y * y
          acc
        },
        combOp = (a, b) => {
          var f = 0
          while (f < nfolds) {
            val af = a(f); val bf = b(f)
            var i = 0
            while (i < af.length) { af(i) += bf(i); i += 1 }
            f += 1
          }
          a
        }, depth = 2)
      var passes = 1
      CvSgdNet.requireNonEmptyFolds(
        accA.map(_(3 * p).toLong).toIndexedSeq, nfolds)
      val momTot = new Array[Double](3 * p + 3)
      accA.foreach { a =>
        var i = 0; while (i < momTot.length) { momTot(i) += a(i); i += 1 }
      }
      val mom = Array.tabulate(M) { m =>
        if (m == nfolds) momTot
        else {
          val t = momTot.clone()
          val a = accA(m)
          var i = 0; while (i < t.length) { t(i) -= a(i); i += 1 }
          t
        }
      }
      val nM = Array.tabulate(M)(m => mom(m)(3 * p))
      val meanM = Array.tabulate(M, p)((m, j) => mom(m)(j) / nM(m))
      val sdM = Array.tabulate(M, p) { (m, j) =>
        val v = math.max(mom(m)(p + j) / nM(m) - meanM(m)(j) * meanM(m)(j), 0.0)
        val s = math.sqrt(v); if (s > 0) s else 1.0
      }
      val scaleM = Array.tabulate(M)(m =>
        if (params.standardize) sdM(m) else Array.fill(p)(1.0))
      val centerM = Array.tabulate(M)(m =>
        if (params.intercept) meanM(m) else new Array[Double](p))
      val yMeanM = Array.tabulate(M)(m => mom(m)(3 * p + 1) / nM(m))
      if (!binom) (0 until M).foreach(m => require(yMeanM(m) > 0,
        "poisson response must contain positive counts in every train fold"))
      val yCenM = Array.tabulate(M)(m => if (params.intercept) yMeanM(m) else 0.0)
      // standardized null covariance per model (the lambda-path input
      // and, at an intercept-only init, the exact init gradient)
      val cM = Array.tabulate(M, p)((m, j) =>
        (mom(m)(2 * p + j) / nM(m) - centerM(m)(j) * yMeanM(m) -
          yCenM(m) * meanM(m)(j) + centerM(m)(j) * yCenM(m)) / scaleM(m)(j))
      val nTot = nM(nfolds)
      val bcStd = sc.broadcast((centerM, scaleM))

      // --------------- union ever-candidate set E (indices only — the
      // weighted moment blocks are rebuilt per Newton step)
      val inE = new Array[Boolean](p)
      val eIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      def extendIdx(newCols: Array[Int]): Unit = {
        if (newCols.isEmpty) return
        requireEFits(eIdx.size + newCols.size,
          "the per-model O(|E|^2) weighted moment blocks")
        newCols.foreach { j => inE(j) = true; eIdx += j }
      }

      def linkWZ(eta: Double, y: Double): (Double, Double) =
        if (binom) {
          val mu = 1.0 / (1.0 + math.exp(-eta))
          val w = math.max(mu * (1.0 - mu), 1e-5)
          (w, eta + (y - mu) / w)
        } else {
          val etaC = math.max(math.min(eta, 30.0), -30.0)
          val mu = math.exp(etaC)
          val w = math.max(mu, 1e-5)
          (w, etaC + (y - mu) / w)
        }

      // batched frozen-weight moments over E for the flagged models:
      // per model [packed |E|(|E|+1)/2][swxz][swx][swz][sw]
      def passWAll(eArr: Array[Int], need: Array[Boolean],
                   a0w: Array[Double],
                   act: Array[(Array[Int], Array[Double])]): Array[Array[Double]] = {
        val m = eArr.length
        val szE = m * (m + 1) / 2 + 2 * m + 2
        val bc = sc.broadcast((eArr, need, a0w, act))
        val acc = rows.treeAggregate(new Array[Double](M * szE))(
          seqOp = (a, r) => {
            val (fold, x, y) = r
            val (eL, needL, a0s, actL) = bc.value
            val (ctrs, scls) = bcStd.value
            var mm = 0
            while (mm < M) {
              if (needL(mm) && mm != fold) {
                val ctr = ctrs(mm); val scl = scls(mm)
                val (aI, aV) = actL(mm)
                var eta = a0s(mm)
                var i = 0
                while (i < aI.length) {
                  val j = aI(i); eta += aV(i) * (x(j) - ctr(j)) / scl(j); i += 1
                }
                val (w, z) = linkWZ(eta, y)
                val off = mm * szE
                val base2 = m * (m + 1) / 2
                a(off + szE - 2) += w * z; a(off + szE - 1) += w
                var jj = 0
                while (jj < m) {
                  val ej = eL(jj)
                  val xsj = (x(ej) - ctr(ej)) / scl(ej)
                  val wxj = w * xsj
                  a(off + base2 + jj) += wxj * z
                  a(off + base2 + m + jj) += wxj
                  val base = off + jj * (jj + 1) / 2
                  var ii = 0
                  while (ii <= jj) {
                    val ei = eL(ii)
                    a(base + ii) += (x(ei) - ctr(ei)) / scl(ei) * wxj
                    ii += 1
                  }
                  jj += 1
                }
              }
              mm += 1
            }
            a
          },
          combOp = (a, b2) => {
            var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        Array.tabulate(M)(mm =>
          if (need(mm)) java.util.Arrays.copyOfRange(acc, mm * szE, (mm + 1) * szE)
          else null)
      }

      // batched FUSED pass: per active model, the full-p WLS KKT vector
      // at its candidate point under its frozen weights AND its
      // next-step weighted moments over E at the candidate point
      def passFusedAll(eArr: Array[Int], act: Array[Boolean],
                       a0w: Array[Double], wAct: Array[(Array[Int], Array[Double])],
                       a0n: Array[Double], nAct: Array[(Array[Int], Array[Double])]): (Array[Array[Double]], Array[Array[Double]]) = {
        val m = eArr.length
        val szE = m * (m + 1) / 2 + 2 * m + 2
        val blk = p + szE
        val bc = sc.broadcast((eArr, act, a0w, wAct, a0n, nAct))
        val acc = rows.treeAggregate(new Array[Double](M * blk))(
          seqOp = (a, r) => {
            val (fold, x, y) = r
            val (eL, actL, a0ws, wActL, a0ns, nActL) = bc.value
            val (ctrs, scls) = bcStd.value
            var mm = 0
            while (mm < M) {
              if (actL(mm) && mm != fold) {
                val ctr = ctrs(mm); val scl = scls(mm)
                val (wI, wV) = wActL(mm)
                var etaW = a0ws(mm)
                var i = 0
                while (i < wI.length) {
                  val j = wI(i); etaW += wV(i) * (x(j) - ctr(j)) / scl(j); i += 1
                }
                val (nI, nV) = nActL(mm)
                var etaN = a0ns(mm)
                i = 0
                while (i < nI.length) {
                  val j = nI(i); etaN += nV(i) * (x(j) - ctr(j)) / scl(j); i += 1
                }
                val off = mm * blk
                val (wF, zF) = linkWZ(etaW, y)
                val resid = wF * (zF - etaN)
                var j = 0
                while (j < p) {
                  a(off + j) += resid * (x(j) - ctr(j)) / scl(j); j += 1
                }
                val (wN, zN) = linkWZ(etaN, y)
                val base2 = off + p + m * (m + 1) / 2
                a(off + p + szE - 2) += wN * zN; a(off + p + szE - 1) += wN
                var jj = 0
                while (jj < m) {
                  val ej = eL(jj)
                  val xsj = (x(ej) - ctr(ej)) / scl(ej)
                  val wxj = wN * xsj
                  a(base2 + jj) += wxj * zN
                  a(base2 + m + jj) += wxj
                  val base = off + p + jj * (jj + 1) / 2
                  var ii = 0
                  while (ii <= jj) {
                    val ei = eL(ii)
                    a(base + ii) += (x(ei) - ctr(ei)) / scl(ei) * wxj
                    ii += 1
                  }
                  jj += 1
                }
              }
              mm += 1
            }
            a
          },
          combOp = (a, b2) => {
            var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        val kkts = Array.tabulate(M)(mm =>
          if (act(mm)) Array.tabulate(p)(j => acc(mm * blk + j) / nM(mm))
          else null)
        val wgs = Array.tabulate(M)(mm =>
          if (act(mm)) java.util.Arrays.copyOfRange(acc, mm * blk + p, (mm + 1) * blk)
          else null)
        (kkts, wgs)
      }

      // batched init gradients at (beta = 0, a0 per model) — only the
      // !intercept regime needs the pass (with an intercept the init
      // gradient IS cM(m))
      def initGradAll(a0i: Array[Double]): Array[Array[Double]] = {
        val bc = sc.broadcast(a0i)
        val acc = rows.treeAggregate(new Array[Double](M * p))(
          seqOp = (a, r) => {
            val (fold, x, y) = r
            val a0s = bc.value
            val (ctrs, scls) = bcStd.value
            var mm = 0
            while (mm < M) {
              if (mm != fold) {
                val eta = a0s(mm)
                val mu = if (binom) 1.0 / (1.0 + math.exp(-eta))
                  else math.exp(math.max(math.min(eta, 30.0), -30.0))
                val resid = y - mu
                val ctr = ctrs(mm); val scl = scls(mm)
                var j = 0
                while (j < p) {
                  a(mm * p + j) += resid * (x(j) - ctr(j)) / scl(j); j += 1
                }
              }
              mm += 1
            }
            a
          },
          combOp = (a, b2) => {
            var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a
          }, depth = 2)
        passes += 1
        bc.destroy()
        Array.tabulate(M, p)((mm, j) => acc(mm * p + j) / nM(mm))
      }

      def actOf(bb: Array[Double]): (Array[Int], Array[Double]) = {
        val idx = (0 until p).filter(bb(_) != 0.0).toArray
        (idx, idx.map(bb))
      }

      // ------------------------------------------------ per-alpha paths
      val paths = alphaGrid.map { alpha =>
        val prm = params.copy(alpha = alpha)
        val lambdas = if (prm.lambda != null) prm.lambda
          else {
            val minRatio = if (prm.lambdaMinRatio.isNaN)
              LambdaPath.defaultMinRatio(nTot.toLong, p) else prm.lambdaMinRatio
            LambdaPath.build(Array(cM(nfolds)), alpha, prm.nlambda,
              minRatio, null)
          }
        val L = lambdas.length
        val beta = Array.fill(M)(new Array[Double](p)) // per-model std scale
        val a0 = Array.tabulate(M) { m =>
          if (binom) {
            val pb = yMeanM(m)
            if (prm.intercept && pb > 0 && pb < 1) math.log(pb / (1 - pb)) else 0.0
          } else if (prm.intercept) math.log(yMeanM(m)) else 0.0
        }
        val grad: Array[Array[Double]] =
          if (prm.intercept) Array.tabulate(M)(m => cM(m).clone())
          else initGradAll(a0)
        val lamPrev = Array.tabulate(M)(m =>
          grad(m).map(math.abs).max / math.max(alpha, 1e-3))
        // frozen-weight moments over E per model, carried across path
        // points; invalidated whenever E grows
        val wg = Array.fill[Array[Double]](M)(null)
        val wgESize = Array.fill(M)(-1)
        val a0Out = Array.ofDim[Double](M, L)
        val bOut = Array.ofDim[Array[Double]](M, L)
        val actOut = Array.ofDim[Array[Int]](M, L)
        val newtonTol = math.max(prm.thresh * 1e-4, 1e-10)
        val dfGate = new SgdNet.DfGate(prm, p)
        var cutL = L
        var l = 0
        while (l < L) {
          val lam = lambdas(l)
          // floored strong rule per model, one union E
          val bounds =
            Array.tabulate(M)(m => screenBound(alpha, lam, lamPrev(m)))
          val needE = scala.collection.mutable.LinkedHashSet.empty[Int]
          for (m <- 0 until M)
            needE ++= screened(grad(m), beta(m), inE, bounds(m))
          extendIdx(needE.toArray)
          val tol = math.max(newtonTol, 1e-12) * math.max(lam, 1.0)
          val active = Array.fill(M)(true)
          var iter = 0
          while (iter < 25 && active.exists(identity)) {
            // fresh frozen moments for active models whose E view is stale
            val stale = Array.tabulate(M)(m =>
              active(m) && (wg(m) == null || wgESize(m) != eIdx.size))
            if (stale.exists(identity)) {
              val ws = passWAll(eIdx.toArray, stale, a0, beta.map(actOf))
              for (m <- 0 until M if stale(m)) {
                wg(m) = ws(m); wgESize(m) = eIdx.size
              }
            }
            var stepDone = false
            var a0N: Array[Double] = null
            var betaN: Array[Array[Double]] = null
            var kktN: Array[Array[Double]] = null
            var wgN: Array[Array[Double]] = null
            while (!stepDone) {
              val eArr = eIdx.toArray
              val mE = eArr.length
              val base2 = mE * (mE + 1) / 2
              // per-model WLS solve over E from the frozen moments
              val ra0 = a0.clone()
              val rbeta = beta.map(_.clone())
              for (m <- 0 until M if active(m)) {
                val g = wg(m)
                val ninv = 1.0 / nM(m)
                if (mE == 0) {
                  val zw = g(base2) * ninv
                  val ww = g(base2 + 1) * ninv
                  if (prm.intercept) ra0(m) = zw / ww
                } else {
                  val aM = unpackSym(g, mE, ninv)
                  val cV = Array.tabulate(mE)(x2 => g(base2 + x2) * ninv)
                  val xwV = Array.tabulate(mE)(x2 => g(base2 + mE + x2) * ninv)
                  val zw = g(base2 + 2 * mE) * ninv
                  val ww = g(base2 + 2 * mE + 1) * ninv
                  val init = Array.tabulate(mE)(x2 => beta(m)(eArr(x2)))
                  val r = CoordinateDescent.solve(aM, cV, xwV, zw, ww, lam,
                    alpha, prm.intercept, init,
                    thresh = newtonTol, maxIter = prm.maxit)
                  ra0(m) = r.a0
                  val bF = new Array[Double](p)
                  var x2 = 0
                  while (x2 < mE) { bF(eArr(x2)) = r.beta(x2); x2 += 1 }
                  rbeta(m) = bF
                }
              }
              val (kkts, wgs) = passFusedAll(eArr, active, a0,
                beta.map(actOf), ra0, rbeta.map(actOf))
              val viol = scala.collection.mutable.LinkedHashSet.empty[Int]
              for (m <- 0 until M if active(m))
                viol ++= reentry(kkts(m), inE, lam * alpha + tol, bounds(m))
              if (viol.isEmpty) {
                a0N = ra0; betaN = rbeta; kktN = kkts; wgN = wgs
                stepDone = true
              } else {
                extendIdx(viol.toArray)
                // rebuild the frozen moments over the grown E for the
                // active models and re-solve the step
                val ws = passWAll(eIdx.toArray, active, a0, beta.map(actOf))
                for (m <- 0 until M if active(m)) {
                  wg(m) = ws(m); wgESize(m) = eIdx.size
                }
              }
            }
            for (m <- 0 until M if active(m)) {
              var maxD = math.abs(a0N(m) - a0(m))
              var j = 0
              while (j < p) {
                val d = math.abs(betaN(m)(j) - beta(m)(j))
                if (d > maxD) maxD = d
                j += 1
              }
              beta(m) = betaN(m); a0(m) = a0N(m)
              grad(m) = kktN(m); wg(m) = wgN(m); wgESize(m) = eIdx.size
              if (maxD < math.max(prm.thresh * 1e-2, 1e-8)) active(m) = false
            }
            iter += 1
          }
          if (!dfGate.admit(j => beta(nfolds)(j) != 0.0)) { cutL = l; l = L }
          else {
            for (m <- 0 until M) {
              val ai = (0 until p).filter(beta(m)(_) != 0.0).toArray
              val bOrig = ai.map(j => beta(m)(j) / scaleM(m)(j))
              actOut(m)(l) = ai; bOut(m)(l) = bOrig
              a0Out(m)(l) = if (prm.intercept)
                a0(m) - ai.indices.map(i => bOrig(i) * meanM(m)(ai(i))).sum
              else a0(m)
              lamPrev(m) = lam
            }
            l += 1
          }
        }
        require(cutL > 0, "dfmax/pmax exclude every path point")
        val lambdasT = lambdas.take(cutL)
        val Lc = cutL

        // ---- ONE fused scoring scan: held-out fold scores (all
        // measures but auc) + the full model's deviance path — every
        // eta from active-only coefficient lists (O(L·|active|)/row)
        val bcOut = sc.broadcast((a0Out, bOut, actOut, Lc))
        val muNullP = if (prm.intercept) yMeanM(nfolds) else 1.0
        val scoreAuc = measure == "auc"
        val acc = rows.treeAggregate(new Array[Double](nfolds * Lc + Lc + 1))(
          seqOp = (a, r) => {
            val (f, x, y) = r
            val (a0s, bs, as2, lc) = bcOut.value
            // held-out: the row's own fold's model
            if (!scoreAuc) {
              var l2 = 0
              while (l2 < lc) {
                var eta = a0s(f)(l2)
                val ai = as2(f)(l2); val bv = bs(f)(l2)
                var i = 0
                while (i < ai.length) { eta += bv(i) * x(ai(i)); i += 1 }
                a(f * lc + l2) += (if (binom) {
                  val mu = 1.0 / (1.0 + math.exp(-eta))
                  measure match {
                    case "mse" => 2.0 * (mu - y) * (mu - y)
                    case "mae" => 2.0 * math.abs(mu - y)
                    case "class" =>
                      if ((if (mu > 0.5) 1.0 else 0.0) != y) 1.0 else 0.0
                    case _ =>
                      val mc = math.min(math.max(mu, 1e-5), 1.0 - 1e-5)
                      -2.0 * (y * math.log(mc) + (1 - y) * math.log(1 - mc))
                  }
                } else {
                  val mu = math.exp(eta)
                  measure match {
                    case "mse" => (y - mu) * (y - mu)
                    case "mae" => math.abs(y - mu)
                    case _ =>
                      val ylog = if (y > 0) y * math.log(y / mu) else 0.0
                      2.0 * (ylog - (y - mu))
                  }
                })
                l2 += 1
              }
            }
            // full model deviance (+ poisson null slot)
            var l2 = 0
            while (l2 < lc) {
              var eta = a0s(nfolds)(l2)
              val ai = as2(nfolds)(l2); val bv = bs(nfolds)(l2)
              var i = 0
              while (i < ai.length) { eta += bv(i) * x(ai(i)); i += 1 }
              a(nfolds * lc + l2) += (if (binom) {
                val mx = math.max(eta, 0.0)
                2.0 * (mx + math.log(math.exp(-mx) + math.exp(eta - mx)) - y * eta)
              } else {
                val mu = math.exp(math.max(math.min(eta, 30.0), -30.0))
                val ylog = if (y > 0) y * math.log(y / mu) else 0.0
                2.0 * (ylog - (y - mu))
              })
              l2 += 1
            }
            if (!binom) {
              val ylog = if (y > 0) y * math.log(y / muNullP) else 0.0
              a(nfolds * lc + lc) += 2.0 * (ylog - (y - muNullP))
            }
            a
          },
          combOp = (a, b2) => {
            var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a
          }, depth = 2)
        passes += 1

        val nulldev =
          if (binom) {
            val pBar = yMeanM(nfolds)
            val nullP = if (prm.intercept) pBar else 0.5
            -2.0 * nTot * (SgdNet.safeXLog(pBar, nullP) +
              SgdNet.safeXLog(1 - pBar, 1 - nullP))
          } else acc(nfolds * Lc + Lc)
        val devRatio = Array.tabulate(Lc)(l2 =>
          SgdNetModel.devRatio(acc(nfolds * Lc + l2), nulldev))
        val a0Full = Array.tabulate(Lc)(l2 => Array(a0Out(nfolds)(l2)))
        val betaFull = Array.tabulate(Lc) { l2 =>
          val b = new Array[Double](p)
          val ai = actOut(nfolds)(l2); val bv = bOut(nfolds)(l2)
          for (i <- ai.indices) b(ai(i)) = bv(i)
          Array(b)
        }
        val full = new SgdNetModel(family, featureCols.toArray,
          Array(labelCol), classes, lambdasT, a0Full, betaFull, nulldev,
          devRatio, nTot.toLong, passes, prm)

        val foldScores: Array[Array[Double]] =
          if (scoreAuc) {
            // the fold-partitioned rank chain over active-only etas
            val spark = df.sparkSession
            import spark.implicits._
            val scored = spark.createDataFrame(rows.map { t =>
              val (f, x, _) = t
              val (a0s, bs, as2, lc) = bcOut.value
              val etas = new Array[Double](lc)
              var l2 = 0
              while (l2 < lc) {
                var eta = a0s(f)(l2)
                val ai = as2(f)(l2); val bv = bs(f)(l2)
                var i = 0
                while (i < ai.length) { eta += bv(i) * x(ai(i)); i += 1 }
                etas(l2) = eta
                l2 += 1
              }
              (f, t._3, etas)
            }).toDF("__fold", "__y", "__etas")
            val exploded = scored
              .select(col("__fold"), col("__y"),
                org.apache.spark.sql.functions.posexplode(col("__etas"))
                  .as(Seq("__l", "__s")))
              .select((col("__l") * nfolds + col("__fold")).as("__g"),
                col("__s"), col("__y"))
            val aucs = CvSgdNet.aucPerGroup(exploded, Lc * nfolds)
            Array.tabulate(nfolds, Lc)((f, l2) => aucs(l2 * nfolds + f))
          } else
            Array.tabulate(nfolds, Lc)((f, l2) =>
              acc(f * Lc + l2) / accA(f)(3 * p))
        bcOut.destroy()
        CvSgdNet.summarize(alpha, lambdasT, foldScores, full)
      }
      bcStd.destroy()
      val best = paths.minBy(pth => pth.cvm.min)
      CvSgdNet.CvResult(paths, best)
    } finally rows.unpersist(blocking = false)
  }

  // ------------------------------------------------------------------ GLM

  /** Screened-Gram IRLS for LARGE p — the binomial twin of
    * [[fitGaussian]] (round 18): the logistic elastic-net path without
    * ever materializing the p×p weighted Gram. Each Newton step's WLS
    * subproblem is solved over the grow-only ever-candidate set E
    * (strong-rule seeded) and backchecked with the EXACT per-step WLS
    * KKT sweep over every discarded coordinate — violators re-enter E
    * and the step re-solves, so the screened IRLS path equals the
    * full-Gram [[SgdNet.fit]] path structurally (same discipline as
    * `CoordinateDescent.solveScreened`, moved from the driver solve to
    * the aggregation contract).
    *
    * Cost model per path point: 1 weighted-moments pass + one FUSED
    * pass per Newton step (the fused pass computes the O(p) WLS KKT
    * vector at the candidate point under the step's frozen weights AND
    * the next step's O(|E|²) weighted moment block in the same scan),
    * + rare extension re-passes. Driver/task state is O(|E|²), never
    * O(p²). Same contract surface as [[fitGaussian]] (alpha > 0, no
    * penalty factors / box limits / compat), plus the dense route's
    * IRLS conventions bit-for-bit: w = max(mu(1−mu), 1e-5),
    * z = eta + (y − mu)/w, Newton cap 25, stop at
    * max|Δcoef| < max(thresh·1e-2, 1e-8) (SgdNet.fitIrls with the
    * SgdNet.Binomial family). */
  def fitBinomial(df: DataFrame, featureCols: Seq[String], labelCol: String,
                  params: SgdNetParams = SgdNetParams(family = "binomial"),
                  weightCol: String = null,
                  offsetCol: String = null): SgdNetModel = {
    import org.apache.spark.sql.functions.col
    require(params.family == "binomial",
      s"LargeP.fitBinomial supports binomial, not ${params.family}")
    requireGlmContract(params, featureCols)
    val classes = SgdNet.binomialClasses(df, labelCol)
    val positive = classes(1)
    val yCol = (col(labelCol).cast("string") === positive).cast("double")
    val rows = SgdNet.glmRows(df, featureCols, yCol, weightCol, offsetCol)
    try fitGlmImpl(rows, featureCols, labelCol, classes, "binomial",
      params, hasOffset = offsetCol != null, weighted = weightCol != null)
    finally rows.unpersist(blocking = false)
  }

  /** Screened-Gram IRLS for LARGE p — the poisson (log link) twin of
    * [[fitBinomial]], with the dense route's link conventions
    * (eta clamped to ±30, w = max(mu, 1e-5) — SgdNet.Poisson). */
  def fitPoisson(df: DataFrame, featureCols: Seq[String], labelCol: String,
                 params: SgdNetParams = SgdNetParams(family = "poisson"),
                 weightCol: String = null,
                 offsetCol: String = null): SgdNetModel = {
    import org.apache.spark.sql.functions.col
    require(params.family == "poisson",
      s"LargeP.fitPoisson supports poisson, not ${params.family}")
    requireGlmContract(params, featureCols)
    val rows = SgdNet.glmRows(df, featureCols, col(labelCol).cast("double"),
      weightCol, offsetCol)
    try fitGlmImpl(rows, featureCols, labelCol, Array.empty, "poisson",
      params, hasOffset = offsetCol != null, weighted = weightCol != null)
    finally rows.unpersist(blocking = false)
  }

  /** Screened-Gram IRLS for LARGE-DIM SPARSE (CSR) input — the
    * hashed-feature logistic path (round 18): [[fitBinomial]]'s fused
    * per-Newton discipline with every cluster pass SPARSE per row.
    * Centering makes the standardized weighted moments dense, but each
    * splits into raw sparse accumulations plus driver-side
    * corrections:
    *
    *   Σw·xsₐ·xs_b = (Σw·xₐ·x_b − cₐΣw·x_b − c_bΣw·xₐ + cₐc_bΣw)/(sₐs_b)
    *   Σw·z·xsₐ   = (Σw·z·xₐ − cₐΣw·z)/sₐ
    *   kkt_j      = (Σr·x_j − c_jΣr)/s_j/n,  r = w·(z − ηN)
    *
    * so the moments pass is O(k_E²) per row (k_E = the row's nnz
    * inside E), the fused KKT+moments pass is O(nnz + k_E²), and no
    * pass ever loops over all p in a row. This is the quality-
    * classifier regime — logistic elastic net over 2^17-dim hashed
    * text features — where the dense weighted Gram never existed.
    * Same contract as [[fitBinomial]]; feature names are `V$j`. */
  def fitSparseBinomial(df: DataFrame, idxCol: String, valCol: String,
                        dim: Int, labelCol: String,
                        params: SgdNetParams = SgdNetParams(family = "binomial")): SgdNetModel = {
    import org.apache.spark.sql.functions.col
    require(params.family == "binomial",
      s"LargeP.fitSparseBinomial supports binomial, not ${params.family}")
    requireGlmContract(params, (0 until dim).map(j => s"V$j"))
    val classes = SgdNet.binomialClasses(df, labelCol)
    val positive = classes(1)
    val rows = df.select(col(idxCol), col(valCol).cast("array<double>"),
        (col(labelCol).cast("string") === positive).cast("double"))
      .rdd.map { r =>
        (r.getSeq[Int](0).toArray, r.getSeq[Double](1).toArray,
          r.getDouble(2))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try fitSparseGlmImpl(rows, dim, labelCol, classes, "binomial", params)
    finally rows.unpersist(blocking = false)
  }

  /** Sparse large-dim poisson twin of [[fitSparseBinomial]] (log link,
    * the [[fitPoisson]] conventions). */
  def fitSparsePoisson(df: DataFrame, idxCol: String, valCol: String,
                       dim: Int, labelCol: String,
                       params: SgdNetParams = SgdNetParams(family = "poisson")): SgdNetModel = {
    import org.apache.spark.sql.functions.col
    require(params.family == "poisson",
      s"LargeP.fitSparsePoisson supports poisson, not ${params.family}")
    requireGlmContract(params, (0 until dim).map(j => s"V$j"))
    val rows = df.select(col(idxCol), col(valCol).cast("array<double>"),
        col(labelCol).cast("double"))
      .rdd.map { r =>
        (r.getSeq[Int](0).toArray, r.getSeq[Double](1).toArray,
          r.getDouble(2))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try fitSparseGlmImpl(rows, dim, labelCol, Array.empty, "poisson", params)
    finally rows.unpersist(blocking = false)
  }

  private def fitSparseGlmImpl(rows: RDD[(Array[Int], Array[Double], Double)],
                               dim: Int, labelCol: String,
                               classes: Array[String], family: String,
                               params: SgdNetParams): SgdNetModel = {
    val p = dim
    val sc = rows.sparkContext
    val binom = family == "binomial"

    // ---------------------------------------------- pass A (O(nnz)/row)
    val accA = rows.treeAggregate(new Array[Double](3 * p + 3))(
      seqOp = (a, r) => {
        val (ix, vs, y) = r
        var k = 0
        while (k < ix.length) {
          val j = ix(k); val v = vs(k)
          a(j) += v; a(p + j) += v * v; a(2 * p + j) += v * y
          k += 1
        }
        a(3 * p) += 1.0; a(3 * p + 1) += y; a(3 * p + 2) += y * y
        a
      },
      combOp = (a, b) => {
        var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
      }, depth = 2)
    var passes = 1
    val nD = accA(3 * p)
    require(nD > 0, "the response (y) is empty.")
    val nL = nD.toLong
    val n = nD
    val mean = Array.tabulate(p)(j => accA(j) / nD)
    val xSd = Array.tabulate(p) { j =>
      val v = math.max(accA(p + j) / nD - mean(j) * mean(j), 0.0)
      val s = math.sqrt(v); if (s > 0) s else 1.0
    }
    val scale = if (params.standardize) xSd else Array.fill(p)(1.0)
    val center = if (params.intercept) mean else new Array[Double](p)
    val invScale = Array.tabulate(p)(j => 1.0 / scale(j))
    val yBar = accA(3 * p + 1) / nD
    if (!binom) require(yBar > 0, "poisson response must contain positive counts")
    val yCen = if (params.intercept) yBar else 0.0
    val b0 = Array.tabulate(p)(j =>
      (accA(2 * p + j) / nD - center(j) * yBar - yCen * mean(j) +
        center(j) * yCen) / scale(j))

    val minRatio = if (params.lambdaMinRatio.isNaN)
      LambdaPath.defaultMinRatio(nL, p) else params.lambdaMinRatio
    val lambdas = if (params.lambda != null) params.lambda
      else LambdaPath.build(Array(b0), params.alpha, params.nlambda,
        minRatio, null)
    val lmaxData = b0.map(math.abs).max / math.max(params.alpha, 1e-3)

    // note: NO per-row center/invScale use anywhere below — every
    // centering correction is applied driver-side (see scaladoc), so
    // the broadcasts carry only active-set packs and E slot lookups

    // sparse eta at a point (a0, act): a0 − C_act + Σ_{act∩nnz} β·x·inv
    // with C_act = Σ_act β·ctr·inv precomputed driver-side. Broadcast
    // carries (slot lookup over p, beta·inv values, C_act).
    def actPack(a0x: Double, beta: Array[Double]): (Array[Int], Array[Double], Double, Double) = {
      val ai = (0 until p).filter(beta(_) != 0.0).toArray
      val bi = ai.map(j => beta(j) * invScale(j))
      var cAct = 0.0
      ai.indices.foreach(i => cAct += bi(i) * center(ai(i)))
      val slot = Array.fill(p)(-1)
      ai.indices.foreach(i => slot(ai(i)) = i)
      (slot, bi, cAct, a0x)
    }
    @inline def linkWZ(eta: Double, y: Double): (Double, Double) =
      if (binom) {
        val mu = 1.0 / (1.0 + math.exp(-eta))
        val w = math.max(mu * (1.0 - mu), 1e-5)
        (w, eta + (y - mu) / w)
      } else {
        val etaC = math.max(math.min(eta, 30.0), -30.0)
        val mu = math.exp(etaC)
        val w = math.max(mu, 1e-5)
        (w, etaC + (y - mu) / w)
      }

    // assemble the standardized weighted moment block from the raw
    // sparse accumulations: layout of the raw acc (size base2 + 2m + 2):
    // [Σw x_a x_b packed][Σw z x_a][Σw x_a][Σw z][Σw]
    def assemble(raw: Array[Double], eArr: Array[Int], off: Int): (Array[Array[Double]], Array[Double], Array[Double], Double, Double) = {
      val m = eArr.length
      val base2 = m * (m + 1) / 2
      val sw = raw(off + base2 + 2 * m + 1)
      val swz = raw(off + base2 + 2 * m)
      val ninv = 1.0 / n
      val swxRaw = Array.tabulate(m)(i => raw(off + base2 + m + i))
      val swxzRaw = Array.tabulate(m)(i => raw(off + base2 + i))
      val aM = Array.ofDim[Double](m, m)
      var x2 = 0
      while (x2 < m) {
        val i = eArr(x2); val row = aM(x2)
        var y2 = 0
        while (y2 < m) {
          val j = eArr(y2)
          val hi = math.max(x2, y2); val lo = math.min(x2, y2)
          row(y2) = (raw(off + hi * (hi + 1) / 2 + lo) - center(i) * swxRaw(y2) -
            center(j) * swxRaw(x2) + center(i) * center(j) * sw) *
            invScale(i) * invScale(j) * ninv
          y2 += 1
        }
        x2 += 1
      }
      val cM = Array.tabulate(m) { x2 =>
        val i = eArr(x2)
        (swxzRaw(x2) - center(i) * swz) * invScale(i) * ninv
      }
      val xwM = Array.tabulate(m) { x2 =>
        val i = eArr(x2)
        (swxRaw(x2) - center(i) * sw) * invScale(i) * ninv
      }
      (aM, cM, xwM, swz * ninv, sw * ninv)
    }

    // raw weighted moments over E at the point pack — all sparse per
    // row: gather the row's nnz inside E, then O(k_E²) packed updates
    def passW(eArr: Array[Int],
              pack: (Array[Int], Array[Double], Double, Double)): Array[Double] = {
      val m = eArr.length
      val sz = m * (m + 1) / 2 + 2 * m + 2
      val slotE = Array.fill(p)(-1)
      eArr.indices.foreach(i => slotE(eArr(i)) = i)
      val bc = sc.broadcast((slotE, pack))
      val acc = rows.treeAggregate(new Array[Double](sz))(
        seqOp = (a, r) => {
          val (ix, vs, y) = r
          val (sE, pk) = bc.value
          val (slot, bi, cAct, a0w) = pk
          var eta = a0w - cAct
          var k = 0
          var cntE = 0
          while (k < ix.length) {
            val j = ix(k)
            val s = slot(j)
            if (s >= 0) eta += bi(s) * vs(k)
            if (sE(j) >= 0) cntE += 1
            k += 1
          }
          val (w, z) = linkWZ(eta, y)
          val b2 = sz - 2 * m - 2 // = m(m+1)/2, start of the Σwzx block
          a(sz - 2) += w * z; a(sz - 1) += w
          if (cntE > 0) {
            val eS = new Array[Int](cntE); val eV = new Array[Double](cntE)
            k = 0; var t = 0
            while (k < ix.length) {
              val s = sE(ix(k))
              if (s >= 0) { eS(t) = s; eV(t) = vs(k); t += 1 }
              k += 1
            }
            val wz = w * z
            var i1 = 0
            while (i1 < cntE) {
              val s1 = eS(i1); val wv = w * eV(i1)
              a(b2 + s1) += wz * eV(i1)        // Σ w z x_a
              a(b2 + m + s1) += wv             // Σ w x_a
              var i2 = 0
              while (i2 < cntE) {
                val s2 = eS(i2)
                if (s2 <= s1) a(s1 * (s1 + 1) / 2 + s2) += wv * eV(i2)
                i2 += 1
              }
              i1 += 1
            }
          }
          a
        },
        combOp = (a, b) => {
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
        }, depth = 2)
      passes += 1
      bc.destroy()
      acc
    }

    // FUSED pass: frozen-weight full-p KKT at the candidate point
    // (sparse: Σ r·x_j + scalar Σ r, centering applied driver-side)
    // AND the candidate point's raw weighted moments over E
    def passFused(eArr: Array[Int],
                  packW: (Array[Int], Array[Double], Double, Double),
                  packN: (Array[Int], Array[Double], Double, Double)): (Array[Double], Array[Double]) = {
      val m = eArr.length
      val szE = m * (m + 1) / 2 + 2 * m + 2
      val slotE = Array.fill(p)(-1)
      eArr.indices.foreach(i => slotE(eArr(i)) = i)
      val bc = sc.broadcast((slotE, packW, packN))
      val acc = rows.treeAggregate(new Array[Double](p + 1 + szE))(
        seqOp = (a, r) => {
          val (ix, vs, y) = r
          val (sE, pw, pn) = bc.value
          val (slW, biW, cW, a0w) = pw
          val (slN, biN, cN, a0n) = pn
          var etaW = a0w - cW
          var etaN = a0n - cN
          var k = 0
          var cntE = 0
          while (k < ix.length) {
            val j = ix(k); val v = vs(k)
            val s1 = slW(j); if (s1 >= 0) etaW += biW(s1) * v
            val s2 = slN(j); if (s2 >= 0) etaN += biN(s2) * v
            if (sE(j) >= 0) cntE += 1
            k += 1
          }
          val (wF, zF) = linkWZ(etaW, y)
          val resid = wF * (zF - etaN)
          if (resid != 0.0) {
            k = 0
            while (k < ix.length) { a(ix(k)) += resid * vs(k); k += 1 }
            a(p) += resid
          }
          val (wN, zN) = linkWZ(etaN, y)
          val off = p + 1
          a(off + szE - 2) += wN * zN; a(off + szE - 1) += wN
          if (cntE > 0) {
            val eS = new Array[Int](cntE); val eV = new Array[Double](cntE)
            k = 0; var t = 0
            while (k < ix.length) {
              val s = sE(ix(k))
              if (s >= 0) { eS(t) = s; eV(t) = vs(k); t += 1 }
              k += 1
            }
            val b2 = off + szE - 2 * m - 2
            val wz = wN * zN
            var i1 = 0
            while (i1 < cntE) {
              val s1 = eS(i1); val wv = wN * eV(i1)
              a(b2 + s1) += wz * eV(i1)
              a(b2 + m + s1) += wv
              var i2 = 0
              while (i2 < cntE) {
                val s2 = eS(i2)
                if (s2 <= s1) a(off + s1 * (s1 + 1) / 2 + s2) += wv * eV(i2)
                i2 += 1
              }
              i1 += 1
            }
          }
          a
        },
        combOp = (a, b) => {
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
        }, depth = 2)
      passes += 1
      bc.destroy()
      val sumR = acc(p)
      val kkt = Array.tabulate(p)(j =>
        (acc(j) - center(j) * sumR) * invScale(j) / n)
      val wg = java.util.Arrays.copyOfRange(acc, p + 1, p + 1 + szE)
      (kkt, wg)
    }

    // ------------------------------------- ever-candidate set E
    val inE = new Array[Boolean](p)
    val eIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    def extendIdx(newCols: Array[Int]): Unit = {
      if (newCols.isEmpty) return
      requireEFits(eIdx.size + newCols.size, "the O(|E|^2) active block")
      newCols.foreach { j => inE(j) = true; eIdx += j }
    }

    // ----------------------------------------------------- path loop
    val L = lambdas.length
    val a0Out = Array.ofDim[Double](L, 1)
    val betaOut = Array.ofDim[Double](L, 1, p)
    val beta = new Array[Double](p)
    var a0 =
      if (binom) { if (params.intercept && yBar > 0 && yBar < 1)
          math.log(yBar / (1 - yBar)) else 0.0 }
      else { if (params.intercept) math.log(yBar) else 0.0 }
    // init gradient at (a0, 0): mu is CONSTANT, so it assembles from
    // the pass-A moments driver-side — no extra pass:
    // grad_j = [Σx_j·y − mu·Σx_j − c_j·n·(ȳ − mu)]·inv_j / n
    var grad = {
      val mu0 = if (binom) 1.0 / (1.0 + math.exp(-a0))
        else math.exp(math.max(math.min(a0, 30.0), -30.0))
      Array.tabulate(p)(j =>
        (accA(2 * p + j) - mu0 * accA(j) -
          center(j) * nD * (yBar - mu0)) * invScale(j) / n)
    }
    var lamPrev = lmaxData
    val newtonTol = math.max(params.thresh * 1e-4, 1e-10)
    val dfGate = new SgdNet.DfGate(params, p)
    var wg: Array[Double] = null
    var wgESize = -1
    var cutL = L
    var l = 0
    while (l < L) {
      val lam = lambdas(l)
      // floored strong-rule start; each KKT re-entry below takes the
      // violators and every column at or above the same bound
      val bound = screenBound(params.alpha, lam, lamPrev)
      extendIdx(screened(grad, beta, inE, bound))
      val tol = math.max(newtonTol, 1e-12) * math.max(lam, 1.0)
      var iter = 0
      var done = false
      var packCur = actPack(a0, beta)
      if (wg == null || wgESize != eIdx.size) {
        wg = passW(eIdx.toArray, packCur); wgESize = eIdx.size
      }
      while (iter < 25 && !done) {
        var stepDone = false
        var a0n = a0
        var betaN: Array[Double] = null
        var kktN: Array[Double] = null
        var wgNext: Array[Double] = null
        while (!stepDone) {
          val eArr = eIdx.toArray
          val m = eArr.length
          val (ra0, rbeta) =
            if (m == 0) {
              val (_, _, _, zwN, wwN) = assemble(wg, eArr, 0)
              (if (params.intercept) zwN / wwN else a0, Array.empty[Double])
            } else {
              val (aM, cMv, xwM, zw, ww) = assemble(wg, eArr, 0)
              val init = Array.tabulate(m)(x2 => beta(eArr(x2)))
              val r = CoordinateDescent.solve(aM, cMv, xwM, zw, ww, lam,
                params.alpha, params.intercept, init,
                thresh = newtonTol, maxIter = params.maxit)
              (r.a0, r.beta)
            }
          val bFull = new Array[Double](p)
          var x2 = 0
          while (x2 < m) { bFull(eArr(x2)) = rbeta(x2); x2 += 1 }
          val packN = actPack(ra0, bFull)
          val (kkt, wgN) = passFused(eArr, packCur, packN)
          val back = reentry(kkt, inE, lam * params.alpha + tol, bound)
          if (back.isEmpty) {
            a0n = ra0; betaN = bFull; kktN = kkt; wgNext = wgN
            stepDone = true
          } else {
            extendIdx(back)
            wg = passW(eIdx.toArray, packCur); wgESize = eIdx.size
          }
        }
        var maxD = math.abs(a0n - a0)
        var j = 0
        while (j < p) {
          val d = math.abs(betaN(j) - beta(j)); if (d > maxD) maxD = d
          j += 1
        }
        System.arraycopy(betaN, 0, beta, 0, p)
        a0 = a0n
        grad = kktN
        wg = wgNext
        packCur = actPack(a0, beta)
        iter += 1
        if (maxD < math.max(params.thresh * 1e-2, 1e-8)) done = true
      }
      if (!dfGate.admit(j => beta(j) != 0.0)) { cutL = l; l = L }
      else {
        for (j <- 0 until p) betaOut(l)(0)(j) = beta(j) / scale(j)
        a0Out(l)(0) = if (params.intercept)
          a0 - (0 until p).map(j => betaOut(l)(0)(j) * mean(j)).sum
        else a0
        lamPrev = lam
        l += 1
      }
    }
    require(cutL > 0, "dfmax/pmax exclude every path point")
    val lambdasT = lambdas.take(cutL)
    val a0OutT = a0Out.take(cutL)
    val betaOutT = betaOut.take(cutL)

    // ------------------------- deviance: ONE sparse scan, per-l active
    // coefficients on the ORIGINAL scale (sorted idx + binary search)
    val actIdxL = betaOutT.map(bl => (0 until p).filter(bl(0)(_) != 0.0).toArray)
    val actValL = actIdxL.zip(betaOutT).map { case (ixA, bl) => ixA.map(bl(0)) }
    val a0L = a0OutT.map(_(0))
    val muNull = if (params.intercept) yBar else 1.0
    val bcPath = sc.broadcast((a0L, actIdxL, actValL))
    val Lc = cutL
    val devAcc = rows.treeAggregate(new Array[Double](Lc + 1))(
      seqOp = (acc, r) => {
        val (ix, vs, y) = r
        val (a0s, ixs, vls) = bcPath.value
        var l2 = 0
        while (l2 < Lc) {
          var eta = a0s(l2)
          val ai = ixs(l2); val av = vls(l2)
          var k = 0
          while (k < ix.length) {
            val s = java.util.Arrays.binarySearch(ai, ix(k))
            if (s >= 0) eta += av(s) * vs(k)
            k += 1
          }
          if (binom) {
            val mx = math.max(eta, 0.0)
            acc(l2) += 2.0 * (mx + math.log(math.exp(-mx) + math.exp(eta - mx)) - y * eta)
          } else {
            val mu = math.exp(math.max(math.min(eta, 30.0), -30.0))
            val ylog = if (y > 0) y * math.log(y / mu) else 0.0
            acc(l2) += 2.0 * (ylog - (y - mu))
          }
          l2 += 1
        }
        if (!binom) {
          val ylog = if (y > 0) y * math.log(y / muNull) else 0.0
          acc(Lc) += 2.0 * (ylog - (y - muNull))
        }
        acc
      },
      combOp = (a, b2) => {
        var i = 0; while (i <= Lc) { a(i) += b2(i); i += 1 }; a
      }, depth = 2)
    passes += 1
    bcPath.destroy()
    val nulldev =
      if (binom) {
        val nullP = if (params.intercept) yBar else 0.5
        -2.0 * n * (SgdNet.safeXLog(yBar, nullP) +
          SgdNet.safeXLog(1 - yBar, 1 - nullP))
      } else devAcc(Lc)
    val devRatio = Array.tabulate(Lc)(l2 =>
      SgdNetModel.devRatio(devAcc(l2), nulldev))

    new SgdNetModel(family, (0 until p).map(j => s"V$j").toArray,
      Array(labelCol), classes, lambdasT, a0OutT, betaOutT, nulldev,
      devRatio, nL, passes, params)
  }

  private def requireGlmContract(params: SgdNetParams,
                                 featureCols: Seq[String]): Unit = {
    require(params.alpha > 0,
      "the screened-Gram route needs alpha > 0 (at alpha = 0 every " +
        "coordinate is active and the weighted Gram IS p x p — ridge " +
        "at large p needs dimensionality reduction first)")
    require(params.penaltyFactor == null && params.lowerLimits == null &&
      params.upperLimits == null && !params.sgdnetCompat &&
      !params.standardizeResponse,
      "the screened-Gram GLM route composes with none of penaltyFactor " +
        "/ box limits / sgdnetCompat / standardizeResponse — reduce " +
        "dimensionality and use SgdNet.fit for those")
    require(featureCols.nonEmpty, "the predictor matrix (x) is empty.")
    require(params.alpha <= 1,
      "elastic net mixing parameter (alpha) must be in [0, 1].")
    require(params.nlambda > 0, "lambda path cannot be of zero length.")
    require(params.thresh >= 0, "threshold for stopping criteria cannot be negative.")
    require(params.maxit > 0, "maximum number of iterations cannot be negative or zero.")
    if (params.lambda != null)
      require(params.lambda.forall(_ >= 0),
        "penalty strengths (lambdas) must be positive.")
  }

  /** Rows carry (x, y, offset, v): every pass reads the frequency
    * weight as vn = v·norm, rescaled to sum to n over the kept rows
    * (norm from pass A's Σv; exactly 1.0 unweighted — the ratio forms
    * below then run the identical per-row arithmetic, 1.0·x ≡ x),
    * `offset` the per-row link-level offset (0.0 without one — every
    * eta below is a0 + off + xs·β and every WLS target is z − off, the
    * dense SgdNet.fitIrls shape). */
  private def fitGlmImpl(rows: RDD[SgdNet.GlmRow],
                         featureCols: Seq[String], labelCol: String,
                         classes: Array[String], family: String,
                         params: SgdNetParams,
                         hasOffset: Boolean = false,
                         weighted: Boolean = false): SgdNetModel = {
    val p = featureCols.size
    val sc = rows.sparkContext
    val binom = family == "binomial"

    // ------------------- pass A: O(p) weighted moments (+ offset sums)
    val accA = rows.treeAggregate(new Array[Double](3 * p + 6))(
      seqOp = (a, r) => {
        val x = r.x; val y = r.y; val off = r.off; val vn = r.w // raw; rescaled by norm below
        a(3 * p + 5) += vn
        var j = 0
        while (j < p) {
          val xj = vn * x(j)
          a(j) += xj; a(p + j) += xj * x(j); a(2 * p + j) += xj * y
          j += 1
        }
        a(3 * p) += 1.0; a(3 * p + 1) += vn * y; a(3 * p + 2) += vn * y * y
        a(3 * p + 3) += vn * off
        a(3 * p + 4) += vn * math.exp(math.max(math.min(off, 30.0), -30.0))
        a
      },
      combOp = (a, b) => {
        var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
      }, depth = 2)
    var passes = 1
    val nD = accA(3 * p)
    require(nD > 0, "the response (y) is empty.")
    val norm = if (weighted) nD / accA(3 * p + 5) else 1.0
    if (weighted) for (i <- 0 until 3 * p + 5 if i != 3 * p) accA(i) *= norm
    val nL = nD.toLong
    val n = nD
    val mean = Array.tabulate(p)(j => accA(j) / nD)
    val xSd = Array.tabulate(p) { j =>
      val v = math.max(accA(p + j) / nD - mean(j) * mean(j), 0.0)
      val s = math.sqrt(v); if (s > 0) s else 1.0
    }
    val scale = if (params.standardize) xSd else Array.fill(p)(1.0)
    val center = if (params.intercept) mean else new Array[Double](p)
    val yBar = accA(3 * p + 1) / nD
    if (!binom) require(yBar > 0, "poisson response must contain positive counts")
    val yCen = if (params.intercept) yBar else 0.0
    // standardized null-covariance b (SufficientStats.standardize
    // formula) — the dense IRLS routes' lambda-path input
    val b0 = Array.tabulate(p)(j =>
      (accA(2 * p + j) / nD - center(j) * yBar - yCen * mean(j) +
        center(j) * yCen) / scale(j))

    val minRatio = if (params.lambdaMinRatio.isNaN)
      LambdaPath.defaultMinRatio(nL, p) else params.lambdaMinRatio

    val bCS = sc.broadcast((center, scale))

    // null intercept (the a0 init and the null-deviance anchor): the
    // closed forms at the weighted yBar without an offset; with one,
    // binomial+intercept solves Σvn·σ(a0+off) = Σvn·y by a driver
    // Newton loop over scalar-pair passes (quadratic; the mean-offset-
    // shifted logit start is exact for a constant offset), poisson+
    // intercept is the exposure-weighted closed form
    // ln(Σvn·y / Σvn·e^off) — both as SgdNet.nullIntercept
    val a0Null: Double =
      if (!params.intercept) 0.0
      else if (binom) {
        if (!hasOffset) {
          if (yBar > 0 && yBar < 1) math.log(yBar / (1 - yBar)) else 0.0
        } else {
          require(yBar > 0 && yBar < 1,
            "binomial response must contain both classes")
          var a0N = math.log(yBar / (1 - yBar)) - accA(3 * p + 3) / n
          var it = 0
          var done = false
          while (it < 25 && !done) {
            val (s1, s2) = rows.treeAggregate((0.0, 0.0))(
              (s, r) => {
                val mu = 1.0 / (1.0 + math.exp(-(a0N + r.off)))
                val vn = r.w * norm
                (s._1 + vn * (r.y - mu),
                  s._2 + vn * math.max(mu * (1.0 - mu), 1e-10))
              },
              (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
            passes += 1
            val step = s1 / s2
            a0N += step
            it += 1
            if (math.abs(step) < 1e-12) done = true
          }
          a0N
        }
      } else {
        if (!hasOffset) math.log(yBar)
        else math.log(accA(3 * p + 1) / accA(3 * p + 4))
      }

    // per-family link kernel: eta -> (mu, w, z-producing pieces) is
    // inlined in the passes below to keep the hot loop allocation-free

    // --------------------------------- pass kernels (all standardized x)
    // weighted moments over E at the point (a0w, actIdx/actVal):
    // [packed swxx m(m+1)/2][swxz m][swx m][swz][sw]
    def passW(eArr: Array[Int], a0w: Double, actIdx: Array[Int],
              actVal: Array[Double]): Array[Double] = {
      val m = eArr.length
      val sz = m * (m + 1) / 2 + 2 * m + 2
      val bc = sc.broadcast((eArr, actIdx, actVal))
      val acc = rows.treeAggregate(new Array[Double](sz))(
        seqOp = (a, r) => {
          val x = r.x; val y = r.y; val off = r.off; val vn = r.w * norm
          val (eL, aI, aV) = bc.value
          val (ctr, scl) = bCS.value
          var eta = a0w + off
          var i = 0
          while (i < aI.length) {
            val j = aI(i); eta += aV(i) * (x(j) - ctr(j)) / scl(j); i += 1
          }
          // w carries the vn-folded IRLS weight; z is on the SOLVER
          // scale (the WLS target excludes the offset)
          var w = 0.0; var z = 0.0
          if (binom) {
            val mu = 1.0 / (1.0 + math.exp(-eta))
            val wr = math.max(mu * (1.0 - mu), 1e-5)
            w = wr * vn
            z = eta + (y - mu) / wr - off
          } else {
            val etaC = math.max(math.min(eta, 30.0), -30.0)
            val mu = math.exp(etaC)
            val wr = math.max(mu, 1e-5)
            w = wr * vn
            z = etaC + (y - mu) / wr - off
          }
          val base2 = m * (m + 1) / 2
          a(sz - 2) += w * z; a(sz - 1) += w
          var jj = 0
          while (jj < m) {
            val ej = eL(jj)
            val xsj = (x(ej) - ctr(ej)) / scl(ej)
            val wxj = w * xsj
            a(base2 + jj) += wxj * z
            a(base2 + m + jj) += wxj
            val base = jj * (jj + 1) / 2
            var ii = 0
            while (ii <= jj) {
              val ei = eL(ii)
              a(base + ii) += (x(ei) - ctr(ei)) / scl(ei) * wxj
              ii += 1
            }
            jj += 1
          }
          a
        },
        combOp = (a, b2) => {
          var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a
        }, depth = 2)
      passes += 1
      bc.destroy()
      acc
    }

    // FUSED pass: under the FROZEN weights of (a0w, actW) compute the
    // full-p WLS KKT residual gradient at the candidate (a0n, actN)
    // [slots 0..p-1], AND the next step's weighted moments over E at
    // the candidate point's weights [slots p..]. One scan does both.
    def passFused(eArr: Array[Int], a0w: Double, wIdx: Array[Int],
                  wVal: Array[Double], a0n: Double, nIdx: Array[Int],
                  nVal: Array[Double]): (Array[Double], Array[Double]) = {
      val m = eArr.length
      val szE = m * (m + 1) / 2 + 2 * m + 2
      val bc = sc.broadcast((eArr, wIdx, wVal, nIdx, nVal))
      val acc = rows.treeAggregate(new Array[Double](p + szE))(
        seqOp = (a, r) => {
          val x = r.x; val y = r.y; val off = r.off; val vn = r.w * norm
          val (eL, wI, wV, nI, nV) = bc.value
          val (ctr, scl) = bCS.value
          var etaW = a0w + off
          var i = 0
          while (i < wI.length) {
            val j = wI(i); etaW += wV(i) * (x(j) - ctr(j)) / scl(j); i += 1
          }
          // etaNs: the candidate point on the SOLVER scale (no offset);
          // etaN adds the offset back for the link evaluations
          var etaNs = a0n
          i = 0
          while (i < nI.length) {
            val j = nI(i); etaNs += nV(i) * (x(j) - ctr(j)) / scl(j); i += 1
          }
          val etaN = etaNs + off
          // frozen-weight WLS residual at the candidate point (z on the
          // solver scale, so the residual is against etaNs)
          var wF = 0.0; var zF = 0.0
          if (binom) {
            val mu = 1.0 / (1.0 + math.exp(-etaW))
            wF = math.max(mu * (1.0 - mu), 1e-5)
            zF = etaW + (y - mu) / wF - off
          } else {
            val etaC = math.max(math.min(etaW, 30.0), -30.0)
            val mu = math.exp(etaC)
            wF = math.max(mu, 1e-5)
            zF = etaC + (y - mu) / wF - off
          }
          val resid = wF * vn * (zF - etaNs)
          var j = 0
          while (j < p) { a(j) += resid * (x(j) - ctr(j)) / scl(j); j += 1 }
          // next-step weighted moments over E at the candidate point
          var wN = 0.0; var zN = 0.0
          if (binom) {
            val mu = 1.0 / (1.0 + math.exp(-etaN))
            val wr = math.max(mu * (1.0 - mu), 1e-5)
            wN = wr * vn
            zN = etaN + (y - mu) / wr - off
          } else {
            val etaC = math.max(math.min(etaN, 30.0), -30.0)
            val mu = math.exp(etaC)
            val wr = math.max(mu, 1e-5)
            wN = wr * vn
            zN = etaC + (y - mu) / wr - off
          }
          val base2 = p + m * (m + 1) / 2
          a(p + szE - 2) += wN * zN; a(p + szE - 1) += wN
          var jj = 0
          while (jj < m) {
            val ej = eL(jj)
            val xsj = (x(ej) - ctr(ej)) / scl(ej)
            val wxj = wN * xsj
            a(base2 + jj) += wxj * zN
            a(base2 + m + jj) += wxj
            val base = p + jj * (jj + 1) / 2
            var ii = 0
            while (ii <= jj) {
              val ei = eL(ii)
              a(base + ii) += (x(ei) - ctr(ei)) / scl(ei) * wxj
              ii += 1
            }
            jj += 1
          }
          a
        },
        combOp = (a, b2) => {
          var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a
        }, depth = 2)
      passes += 1
      bc.destroy()
      val kkt = Array.tabulate(p)(j => acc(j) / n)
      val wg = java.util.Arrays.copyOfRange(acc, p, p + szE)
      (kkt, wg)
    }

    // gradient of the unpenalized loss at the INIT point (beta = 0,
    // a0 = a0Init) — the strong-rule seed for the first path point
    // (for !intercept inits this is NOT b0; one O(p) pass, exact).
    // With an offset this is ALSO the path input: the null mean
    // mu_i = g⁻¹(a0 + off_i) varies per row, so the offset-ignoring
    // covariance b0 would start the path at a lambda where
    // coefficients are already nonzero (the dense bOff correction)
    def initGrad(a0i: Double): Array[Double] = {
      val acc = rows.treeAggregate(new Array[Double](p))(
        seqOp = (a, r) => {
          val x = r.x; val y = r.y; val off = r.off; val vn = r.w * norm
          val (ctr, scl) = bCS.value
          val eta = a0i + off
          val mu = if (binom) 1.0 / (1.0 + math.exp(-eta))
            else math.exp(math.max(math.min(eta, 30.0), -30.0))
          val resid = vn * (y - mu)
          var j = 0
          while (j < p) { a(j) += resid * (x(j) - ctr(j)) / scl(j); j += 1 }
          a
        },
        combOp = (a, b2) => {
          var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a
        }, depth = 2)
      passes += 1
      Array.tabulate(p)(j => acc(j) / n)
    }

    // ------------------------------------- ever-candidate set E (indices
    // only: the weighted Gram block is rebuilt per Newton step, so E
    // carries no slab state — unlike the gaussian route's gramE)
    val inE = new Array[Boolean](p)
    val eIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    def extendIdx(newCols: Array[Int]): Unit = {
      if (newCols.isEmpty) return
      requireEFits(eIdx.size + newCols.size, "the O(|E|^2) active block")
      newCols.foreach { j => inE(j) = true; eIdx += j }
    }

    // ------------------------------------- lambda path + gradient seed
    var a0 = a0Null
    // with an intercept and NO offset the init gradient IS b0 (mu_i ==
    // yBar for both links at the intercept-only init) — skip the seed
    // pass there; any offset needs the real gradient pass (and it IS
    // the path input, the dense routes' bOff correction)
    var grad = if (!hasOffset && params.intercept) b0.clone()
      else initGrad(a0)
    val pathB = if (hasOffset) grad else b0
    val lambdas = if (params.lambda != null) params.lambda
      else LambdaPath.build(Array(pathB), params.alpha, params.nlambda,
        minRatio, null)
    val lmaxData = pathB.map(math.abs).max / math.max(params.alpha, 1e-3)

    // ----------------------------------------------------- path loop
    val L = lambdas.length
    val a0Out = Array.ofDim[Double](L, 1)
    val betaOut = Array.ofDim[Double](L, 1, p)
    val beta = new Array[Double](p) // standardized coords, warm across l
    var lamPrev = lmaxData
    val newtonTol = math.max(params.thresh * 1e-4, 1e-10)
    val dfGate = new SgdNet.DfGate(params, p)
    // frozen-weight moments over E at the current (a0, beta) — carried
    // ACROSS path points (the previous point's last fused pass computed
    // them at exactly this point); invalidated only when E grows
    var wg: Array[Double] = null
    var wgESize = -1
    var cutL = L
    var l = 0
    def actOf(bb: Array[Double]): (Array[Int], Array[Double]) = {
      val idx = (0 until p).filter(bb(_) != 0.0).toArray
      (idx, idx.map(bb))
    }
    while (l < L) {
      val lam = lambdas(l)
      // floored strong-rule start; each KKT re-entry below takes the
      // violators and every column at or above the same bound
      val bound = screenBound(params.alpha, lam, lamPrev)
      extendIdx(screened(grad, beta, inE, bound))
      val tol = math.max(newtonTol, 1e-12) * math.max(lam, 1.0)
      var iter = 0
      var done = false
      var (wi, wv) = actOf(beta)
      if (wg == null || wgESize != eIdx.size) {
        wg = passW(eIdx.toArray, a0, wi, wv); wgESize = eIdx.size
      }
      while (iter < 25 && !done) {
        var stepDone = false
        var a0n = a0
        var betaN: Array[Double] = null
        var kktN: Array[Double] = null
        var wgNext: Array[Double] = null
        while (!stepDone) {
          val eArr = eIdx.toArray
          val m = eArr.length
          val base2 = m * (m + 1) / 2
          val ninv = 1.0 / n
          val (ra0, rbeta) =
            if (m == 0) {
              val zw = wg(base2) * ninv // note: with m = 0, slots collapse
              val ww = wg(base2 + 1) * ninv
              (if (params.intercept) zw / ww else a0, Array.empty[Double])
            } else {
              val aM = unpackSym(wg, m, ninv)
              val cM = Array.tabulate(m)(x2 => wg(base2 + x2) * ninv)
              val xwM = Array.tabulate(m)(x2 => wg(base2 + m + x2) * ninv)
              val zw = wg(base2 + 2 * m) * ninv
              val ww = wg(base2 + 2 * m + 1) * ninv
              val init = Array.tabulate(m)(x2 => beta(eArr(x2)))
              val r = CoordinateDescent.solve(aM, cM, xwM, zw, ww, lam,
                params.alpha, params.intercept, init,
                thresh = newtonTol, maxIter = params.maxit)
              (r.a0, r.beta)
            }
          val bFull = new Array[Double](p)
          var x2 = 0
          while (x2 < m) { bFull(eArr(x2)) = rbeta(x2); x2 += 1 }
          val (ni, nv) = actOf(bFull)
          val (kkt, wgN) = passFused(eArr, a0, wi, wv, ra0, ni, nv)
          val back = reentry(kkt, inE, lam * params.alpha + tol, bound)
          if (back.isEmpty) {
            a0n = ra0; betaN = bFull; kktN = kkt; wgNext = wgN
            stepDone = true
          } else {
            extendIdx(back)
            // the fused pass's E-moments are stale (E grew): rebuild the
            // frozen-weight moments over the grown E and re-solve
            wg = passW(eIdx.toArray, a0, wi, wv); wgESize = eIdx.size
          }
        }
        var maxD = math.abs(a0n - a0)
        var j = 0
        while (j < p) {
          val d = math.abs(betaN(j) - beta(j)); if (d > maxD) maxD = d
          j += 1
        }
        System.arraycopy(betaN, 0, beta, 0, p)
        a0 = a0n
        grad = kktN
        wg = wgNext
        val t = actOf(beta); wi = t._1; wv = t._2
        iter += 1
        if (maxD < math.max(params.thresh * 1e-2, 1e-8)) done = true
      }
      if (!dfGate.admit(j => beta(j) != 0.0)) { cutL = l; l = L }
      else {
        for (j <- 0 until p) betaOut(l)(0)(j) = beta(j) / scale(j)
        a0Out(l)(0) = if (params.intercept)
          a0 - (0 until p).map(j => betaOut(l)(0)(j) * mean(j)).sum
        else a0
        lamPrev = lam
        l += 1
      }
    }
    require(cutL > 0, "dfmax/pmax exclude every path point")
    val lambdasT = lambdas.take(cutL)
    val a0OutT = a0Out.take(cutL)
    val betaOutT = betaOut.take(cutL)

    // ------------------------- deviance: ONE sparse-coefficient scan
    // (active-only per path point — the dense deviance pass is O(L·p)
    // per row, unaffordable at large p)
    val actIdxL = betaOutT.map(bl => (0 until p).filter(bl(0)(_) != 0.0).toArray)
    val actValL = actIdxL.zip(betaOutT).map { case (ix, bl) => ix.map(bl(0)) }
    val a0L = a0OutT.map(_(0))
    val muNull = if (params.intercept) yBar else 1.0
    // binomial keeps its closed-form nulldev in the plain regime; any
    // weights/offset make the null a per-row quantity (binDev(a0Null +
    // off)·vn — the dense SgdNet.fitIrls forms), so
    // the scan accumulates it in slot Lc like poisson always has
    val binNullScan = binom && (weighted || hasOffset)
    val a0NullD = a0Null
    val bcPath = sc.broadcast((a0L, actIdxL, actValL))
    val Lc = cutL
    val devAcc = rows.treeAggregate(new Array[Double](Lc + 1))(
      seqOp = (acc, r) => {
        val x = r.x; val y = r.y; val off = r.off; val vn = r.w * norm
        val (a0s, ixs, vls) = bcPath.value
        var l2 = 0
        while (l2 < Lc) {
          var eta = a0s(l2) + off
          val ix = ixs(l2); val vl = vls(l2)
          var i = 0
          while (i < ix.length) { eta += vl(i) * x(ix(i)); i += 1 }
          if (binom) {
            val mx = math.max(eta, 0.0)
            acc(l2) += vn * 2.0 *
              (mx + math.log(math.exp(-mx) + math.exp(eta - mx)) - y * eta)
          } else {
            val mu = math.exp(math.max(math.min(eta, 30.0), -30.0))
            val ylog = if (y > 0) y * math.log(y / mu) else 0.0
            acc(l2) += vn * 2.0 * (ylog - (y - mu))
          }
          l2 += 1
        }
        if (!binom) {
          val mu0 = if (hasOffset)
            math.exp(math.max(math.min(a0NullD + off, 30.0), -30.0))
          else muNull
          val ylog = if (y > 0) y * math.log(y / mu0) else 0.0
          acc(Lc) += vn * 2.0 * (ylog - (y - mu0))
        } else if (binNullScan) {
          val eta0 = a0NullD + off
          val mx = math.max(eta0, 0.0)
          acc(Lc) += vn * 2.0 *
            (mx + math.log(math.exp(-mx) + math.exp(eta0 - mx)) - y * eta0)
        }
        acc
      },
      combOp = (a, b2) => {
        var i = 0; while (i <= Lc) { a(i) += b2(i); i += 1 }; a
      }, depth = 2)
    passes += 1
    bcPath.destroy()
    val nulldev =
      if (binom && !binNullScan) {
        val nullP = if (params.intercept) yBar else 0.5
        -2.0 * n * (SgdNet.safeXLog(yBar, nullP) +
          SgdNet.safeXLog(1 - yBar, 1 - nullP))
      } else devAcc(Lc)
    val devRatio = Array.tabulate(Lc)(l2 =>
      SgdNetModel.devRatio(devAcc(l2), nulldev))

    bCS.destroy()
    new SgdNetModel(family, featureCols.toArray, Array(labelCol),
      classes, lambdasT, a0OutT, betaOutT, nulldev, devRatio, nL, passes,
      params)
  }
}
