package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Fit parameters, mirroring the reference API surface
  * (sgdnet R/sgdnet.R:175-196: family, alpha, nlambda, lambda.min.ratio,
  * lambda, maxit, standardize, intercept, thresh, standardize.response).
  */
final case class SgdNetParams(
    family: String = "gaussian",
    alpha: Double = 1.0,
    nlambda: Int = 100,
    lambdaMinRatio: Double = Double.NaN, // NaN => reference default
    lambda: Array[Double] = null,        // user-supplied path (descending)
    standardize: Boolean = true,
    intercept: Boolean = true,
    thresh: Double = 1e-3,
    maxit: Int = 1000,
    standardizeResponse: Boolean = false,
    // "ungrouped" (reference behavior) or "grouped" (group-lasso across
    // classes per feature — the reference's own TODO, R/sgdnet.R:265)
    typeMultinomial: String = "ungrouped",
    // Reference-exact penalty compatibility (sgdnet src/utils.h:170-180):
    // the reference's solver divides BOTH penalty terms by
    // max(y_scale) on its y-standardized working problem, which —
    // unwound to the original scale — keeps the documented L1 term but
    // scales the L2 term by 1/sd_pop(y). That deviates from the
    // objective the reference DOCUMENTS (R/sgdnet.R:28-41), which graft
    // implements by default; setting sgdnetCompat = true reproduces the
    // reference's implemented coefficients at the same lambda (its own
    // manual ridge test, tests/testthat/test-gaussian.R:45-60).
    // Gaussian single-response only by construction: binomial /
    // multinomial / poisson / mgaussian all have y_scale = 1 in the
    // reference (families.h Preprocess is a no-op there), so the flag
    // is a correct no-op for them.
    sgdnetCompat: Boolean = false,
    // glmnet penalty.factor: per-feature multiplier on BOTH penalty
    // terms (0 = that feature is never penalized; used as given, no
    // rescaling — document your own normalization if you want
    // glmnet's sum-to-p convention). Applies on the standardized
    // working coordinates, matching glmnet. Supported for EVERY
    // family — the group solvers (mgaussian; grouped multinomial)
    // scale the whole cross-response group j by pf_j. Contract
    // (requireNoZeroPf): pf = 0 entries need an EXPLICIT lambda
    // sequence on the paths without the unpenalized-coordinate
    // lambda_max projection (mgaussian group, multinomial and their
    // CVs).
    penaltyFactor: Array[Double] = null,
    // glmnet lower.limits / upper.limits: per-coefficient box
    // constraints on the ORIGINAL coefficient scale (the working
    // problem clips on standardized coordinates via the same
    // beta_std = beta_orig·sd/y_scale transform the unstandardization
    // inverts). glmnet's validity requirement applies: every
    // lowerLimit ≤ 0 ≤ upperLimit (the clipped soft-threshold step is
    // the exact 1-D prox only when 0 is feasible). lower=upper=0
    // forces a coefficient out — glmnet's `exclude`, see
    // [[SgdNet.excludeLimits]]. Supported EVERYWHERE since round 16:
    // the 1-D paths (gaussian dense/sparse/weighted/relaxed, binomial
    // and poisson dense/SPARSE/weighted incl. offset, ungrouped
    // multinomial) take the exact clipped soft-threshold prox, and the
    // GROUP solvers (mgaussian; grouped multinomial) take the
    // box-constrained group prox — the group-norm bisection of
    // [[LinAlg.boxedGroupProx]] (the l1/l2 prox has no closed form
    // under a box, but its norm fixed point is unique). The CV paths
    // inherit whichever their fit uses.
    lowerLimits: Array[Double] = null,
    upperLimits: Array[Double] = null,
    // glmnet dfmax / pmax: early path truncation for very large p.
    // dfmax bounds the nonzero-FEATURE count of any returned model
    // (multivariate: a feature counts if ANY class/response uses it);
    // pmax bounds the EVER-ACTIVE feature count along the path. The
    // first path point that violates either is dropped and the path
    // stops there (glmnet returns the shorter sequence); -1 = no
    // bound. Enforced by [[SgdNet.DfGate]] in the dense/sparse/
    // weighted gaussian-family solver and the binomial/poisson/
    // multinomial path cores.
    dfmax: Int = -1,
    pmax: Int = -1)

/** Spark-native elastic-net GLM path fitting with the capability surface
  * of `sgdnet` (gaussian, binomial, multinomial, mgaussian families).
  *
  * Architecture (NOT a port — see SURVEY.md §3): the reference's SAGA
  * solver is sequential per-sample; graft instead computes per-pass
  * sufficient statistics with `treeAggregate` and solves the penalized
  * problem driver-side on p-dimensional moments:
  *   - gaussian / mgaussian: ONE data pass for the entire lambda path
  *     (coordinate descent on the Gram matrix, covariance updates);
  *   - binomial: distributed IRLS — one pass per Newton step, warm
  *     starts along the path;
  *   - multinomial: distributed proximal gradient (FISTA) — one pass
  *     per gradient step.
  * Every pass is a shuffle-free linear scan; driver state is O(p^2).
  */
object SgdNet {

  /** Path-truncation cursor for glmnet `dfmax`/`pmax` (see
    * [[SgdNetParams]]): the solver asks [[admit]] after each path
    * point's solve; a `false` means that point violates a bound — the
    * caller drops it and stops the path (glmnet returns the shorter
    * lambda sequence). Ever-active bookkeeping is O(p) driver state. */
  private[ml] final class DfGate(params: SgdNetParams, p: Int) {
    private val ever = new Array[Boolean](p)
    private var everCount = 0
    val unbounded: Boolean = params.dfmax < 0 && params.pmax < 0
    def admit(nz: Int => Boolean): Boolean = {
      if (unbounded) return true
      var df = 0
      var j = 0
      while (j < p) {
        if (nz(j)) {
          df += 1
          if (!ever(j)) { ever(j) = true; everCount += 1 }
        }
        j += 1
      }
      (params.dfmax < 0 || df <= params.dfmax) &&
        (params.pmax < 0 || everCount <= params.pmax)
    }
  }

  def fit(df: DataFrame, featureCols: Seq[String], labelCol: String,
          params: SgdNetParams = SgdNetParams()): SgdNetModel =
    fitMulti(df, featureCols, Seq(labelCol), params)

  /** glmnet `exclude` as limit arrays: lower = upper = 0 at the
    * excluded indices (the coefficient is forced out at every lambda),
    * ±∞ elsewhere. Pass the pair to
    * `SgdNetParams(lowerLimits = lo, upperLimits = up)`. */
  def excludeLimits(p: Int, exclude: Seq[Int]):
      (Array[Double], Array[Double]) = {
    require(exclude.forall(j => j >= 0 && j < p),
      s"exclude indices must be in [0, $p)")
    val lo = Array.fill(p)(Double.NegativeInfinity)
    val up = Array.fill(p)(Double.PositiveInfinity)
    exclude.foreach { j => lo(j) = 0.0; up(j) = 0.0 }
    (lo, up)
  }

  /** Validate box limits and convert from the ORIGINAL coefficient
    * scale to the working standardized scale (beta_std =
    * beta_orig·scale_j / y_scale). Returns (null, null) when both
    * limit arrays are null. */
  private[ml] def boundsStd(params: SgdNetParams, scale: Array[Double],
                            yScale: Double): (Array[Double], Array[Double]) = {
    val (lo, up) = (params.lowerLimits, params.upperLimits)
    if (lo == null && up == null) return (null, null)
    val p = scale.length
    require(lo == null || lo.length == p,
      s"lowerLimits must have one entry per feature ($p)")
    require(up == null || up.length == p,
      s"upperLimits must have one entry per feature ($p)")
    require(lo == null || lo.forall(_ <= 0),
      "every lowerLimit must be <= 0 (the glmnet requirement)")
    require(up == null || up.forall(_ >= 0),
      "every upperLimit must be >= 0 (the glmnet requirement)")
    val loS = if (lo == null) Array.fill(p)(Double.NegativeInfinity)
      else Array.tabulate(p)(j => lo(j) * scale(j) / yScale)
    val upS = if (up == null) Array.fill(p)(Double.PositiveInfinity)
      else Array.tabulate(p)(j => up(j) * scale(j) / yScale)
    (loS, upS)
  }

  /** Large-p contract (round 18): the sufficient-stats / IRLS
    * architecture keeps O(p²) driver AND per-task state — the packed
    * Gram is p(p+1)/2 doubles, every per-Newton WLS subproblem a
    * p×p solve. SURVEY §3 scopes the design to p up to ~5k–8k; beyond
    * that the failure mode used to be a driver OOM deep inside a
    * treeAggregate. Every fit / CV / relax / offset / weighted entry
    * (dense and sparse) now fails fast at p > maxGramP instead.
    * Override with `-Dgraft.ml.maxGramP=N` (or assign the var) when
    * the driver is provisioned for the p² state; for genuinely large
    * p, reduce dimensionality first (feature hashing, screening, JL
    * projection — `graft.ops.Embeddings.projectTopK`/random
    * projection) — the designed extension is a screened/active-set
    * Gram, not a bigger allocation. */
  @volatile var maxGramP: Int =
    sys.props.get("graft.ml.maxGramP").map(_.toInt).getOrElse(8192)

  private[ml] def requireGramP(p: Int): Unit =
    require(p <= maxGramP,
      s"p = $p features exceeds maxGramP = $maxGramP: graft's " +
        "sufficient-stats/IRLS solvers keep O(p^2) driver state (packed " +
        "Gram + per-Newton WLS), sized for p up to ~8k. Reduce " +
        "dimensionality (feature hashing / screening / a random " +
        "projection) or raise graft.ml.SgdNet.maxGramP / " +
        "-Dgraft.ml.maxGramP if the driver is provisioned for p^2 memory.")

  /** The argument validation every fit entry point shares (reference
    * R/sgdnet.R:101-131 input checks) — fitMulti and the weighted /
    * offset routes that bypass it run the same requires. */
  private[ml] def validateCommon(featureCols: Seq[String],
                                 labelCols: Seq[String],
                                 params: SgdNetParams): Unit = {
    require(featureCols.nonEmpty, "the predictor matrix (x) is empty.")
    requireGramP(featureCols.size)
    require(labelCols.nonEmpty, "the response (y) is empty.")
    require(params.alpha >= 0 && params.alpha <= 1,
      "elastic net mixing parameter (alpha) must be in [0, 1].")
    require(params.nlambda > 0, "lambda path cannot be of zero length.")
    require(params.thresh >= 0, "threshold for stopping criteria cannot be negative.")
    require(params.maxit > 0, "maximum number of iterations cannot be negative or zero.")
    if (params.lambda != null)
      require(params.lambda.forall(_ >= 0), "penalty strengths (lambdas) must be positive.")
  }

  def fitMulti(df: DataFrame, featureCols: Seq[String], labelCols: Seq[String],
               params: SgdNetParams): SgdNetModel = {
    validateCommon(featureCols, labelCols, params)

    params.family match {
      case "gaussian" =>
        require(labelCols.size == 1, "response for Gaussian regression must be one-dimensional.")
        fitGaussianLike(df, featureCols, labelCols, params)
      case "mgaussian" =>
        fitGaussianLike(df, featureCols, labelCols, params)
      case "binomial" | "poisson" =>
        fitDenseGlm(df, featureCols, labelCols.head, params)
      case "multinomial" =>
        fitMultinomial(df, featureCols, labelCols.head, params)
      case f => throw new IllegalArgumentException(s"unsupported family: $f")
    }
  }

  /** Refit including extra penalty values (the reference's
    * `predict(..., exact = TRUE)` / `update()` path, R/utils.R refit):
    * merges `extra` into the model's lambda sequence (descending) and
    * refits — for the gaussian families this still costs ONE data pass.
    */
  def refit(model: SgdNetModel, df: DataFrame, extra: Seq[Double]): SgdNetModel = {
    val merged = (model.lambda ++ extra).distinct.sorted(Ordering[Double].reverse)
    val p = model.params.copy(lambda = merged.toArray)
    if (model.responseNames.length > 1 || model.family == "mgaussian")
      fitMulti(df, model.featureNames.toSeq, model.responseNames.toSeq, p)
    else fit(df, model.featureNames.toSeq, model.responseNames.head, p)
  }

  /** [[refit]] for a WEIGHTED model (`predict(exact = TRUE)` on a
    * cv.glmnet-weights fit): same merged-lambda refit through the
    * weighted routes. The model does not record its weight column —
    * callers pass the one they trained with (passing a different one is
    * a new model, exactly as glmnet's update(weights=) would be). */
  def refitWeighted(model: SgdNetModel, df: DataFrame, weightCol: String,
                    extra: Seq[Double]): SgdNetModel = {
    val merged = (model.lambda ++ extra).distinct.sorted(Ordering[Double].reverse)
    val p = model.params.copy(lambda = merged.toArray)
    if (model.responseNames.length > 1 || model.family == "mgaussian")
      fitWeightedMulti(df, model.featureNames.toSeq,
        model.responseNames.toSeq, weightCol, p)
    else fitWeighted(df, model.featureNames.toSeq, model.responseNames.head,
      weightCol, p)
  }

  /** Sparse-input gaussian/mgaussian fit: rows are CSR-style
    * (indices, values) arrays over a fixed feature dimension `dim`
    * (the Spark shape of the reference's dgCMatrix input,
    * R/sgdnet.R:224-228 / src/saga-sparse.h). Per-row cost is O(nnz^2)
    * for the Gram pass; the solve is identical to the dense path.
    */
  def fitSparse(df: DataFrame, idxCol: String, valCol: String, dim: Int,
                labelCol: String, params: SgdNetParams = SgdNetParams()): SgdNetModel = {
    requireGramP(dim)
    import org.apache.spark.sql.functions.col
    params.family match {
      case "gaussian" | "mgaussian" =>
        val rdd = df.select(col(idxCol), col(valCol).cast("array<double>"),
            col(labelCol).cast("double"))
          .rdd.map { row =>
            (row.getSeq[Int](0).toArray, row.getSeq[Double](1).toArray,
              Array(row.getDouble(2)))
          }
        val g = rdd.treeAggregate(new GramStats(dim, 1))(
          seqOp = (s, r) => s.addSparse(r._1, r._2, r._3),
          combOp = (a, b) => a.merge(b), depth = 2)
        solveGaussianFromStats(g, (0 until dim).map(j => s"V$j"), Seq(labelCol), params)
      case "binomial" | "poisson" =>
        fitCsrGlm(df, idxCol, valCol, dim, labelCol, params)
      case "multinomial" =>
        fitSparseMultinomial(df, idxCol, valCol, dim, labelCol, params)
      case f => throw new IllegalArgumentException(s"unsupported family: $f")
    }
  }

  /** Sparse-input MULTI-RESPONSE fit (mgaussian with a dgCMatrix x,
    * round 16 — the reference supports sparse x for EVERY family
    * including the multi-response gaussian, src/saga-sparse.h +
    * families.h:340): one O(nnz²)-per-row sparse-moment treeAggregate
    * into the SAME group path solver as the dense [[fitMulti]] —
    * standardization, lambda path, group prox (incl. round-16 box
    * limits), standardize.response all apply unchanged. With
    * `weightCol`, RAW-v weighted moments normalized to sum-to-n over
    * the positive-weight rows (the [[fitSparseWeighted]] convention;
    * w = 0 drops the observation). Also accepts the k = 1 gaussian
    * case, where it reproduces [[fitSparse]] exactly. */
  /** [[fitSparseMulti]] with a per-response OFFSET matrix (round 16 —
    * the sparse twin of [[fitMultiWithOffset]]): identity link makes
    * this exact by delegation, fitting y_t − offset_t through the
    * sparse multi-response moment route (the label/offset columns are
    * dense; only x is CSR). */
  def fitSparseMultiWithOffset(df: DataFrame, idxCol: String, valCol: String,
                               dim: Int, labelCols: Seq[String],
                               offsetCols: Seq[String],
                               params: SgdNetParams = SgdNetParams(),
                               weightCol: String = null): SgdNetModel = {
    requireGramP(dim)
    import org.apache.spark.sql.functions.col
    require(params.family == "mgaussian" || params.family == "gaussian",
      s"fitSparseMultiWithOffset is the identity-link route, not ${params.family}")
    require(offsetCols.size == labelCols.size,
      s"need one offset column per response (${labelCols.size}), got ${offsetCols.size}")
    val adj = labelCols.zip(offsetCols).foldLeft(df) { case (d, (l, o)) =>
      d.withColumn(l, col(l).cast("double") - col(o).cast("double"))
    }
    fitSparseMulti(adj, idxCol, valCol, dim, labelCols, params, weightCol)
  }

  def fitSparseMulti(df: DataFrame, idxCol: String, valCol: String,
                     dim: Int, labelCols: Seq[String],
                     params: SgdNetParams = SgdNetParams(),
                     weightCol: String = null): SgdNetModel = {
    requireGramP(dim)
    import org.apache.spark.sql.functions.{col, lit}
    require(params.family == "gaussian" || params.family == "mgaussian",
      s"fitSparseMulti supports gaussian and mgaussian, not ${params.family}")
    require(params.family == "mgaussian" || labelCols.size == 1,
      "response for gaussian must be one-dimensional " +
        "(use family=\"mgaussian\" for multi-response)")
    val k = labelCols.size
    val wCol = if (weightCol == null) lit(1.0) else col(weightCol).cast("double")
    val raw = df.select((Seq(col(idxCol), col(valCol).cast("array<double>")) ++
        labelCols.map(c => col(c).cast("double")) :+ wCol): _*)
      .rdd.map { row =>
        val y = new Array[Double](k)
        var t = 0
        while (t < k) { y(t) = row.getDouble(2 + t); t += 1 }
        (row.getSeq[Int](0).toArray, row.getSeq[Double](1).toArray, y,
          row.getDouble(2 + k))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val norm =
        if (weightCol == null) 1.0
        else {
          val (nRows, wSum) = raw.treeAggregate((0L, 0.0))(
            seqOp = (s, r) => {
              require(r._4 >= 0, "weights must be non-negative")
              if (r._4 > 0) (s._1 + 1, s._2 + r._4) else s
            },
            combOp = (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
          require(nRows > 0, "the response (y) is empty.")
          nRows.toDouble / wSum
        }
      val g = raw.filter(_._4 > 0).treeAggregate(new GramStats(dim, k))(
        seqOp = (s, r) => s.addSparseWeighted(r._1, r._2, r._3, r._4 * norm),
        combOp = (a, b) => a.merge(b), depth = 2)
      solveGaussianFromStats(g, (0 until dim).map(j => s"V$j"), labelCols,
        params)
    } finally { raw.unpersist(blocking = false); () }
  }

  /** [[fitSparse]] WITH observation weights (glmnet sparse x +
    * `weights` together, round 15 — the reference supports dgCMatrix
    * for every family, src/saga-sparse.h, and glmnet accepts weights
    * with it): gaussian runs one weighted sparse-moment treeAggregate
    * (O(nnz²) per row, never densified) into the same driver path
    * solver; binomial/poisson/multinomial thread v·norm through every
    * sparse IRLS / softmax-gradient pass. Integer weights reproduce
    * row duplication (spec); w = 0 drops the observation. */
  def fitSparseWeighted(df: DataFrame, idxCol: String, valCol: String,
                        dim: Int, labelCol: String, weightCol: String,
                        params: SgdNetParams = SgdNetParams()): SgdNetModel = {
    requireGramP(dim)
    import org.apache.spark.sql.functions.col
    params.family match {
      case "gaussian" =>
        val raw = df.select(col(idxCol), col(valCol).cast("array<double>"),
            col(labelCol).cast("double"), col(weightCol).cast("double"))
          .rdd.map { row =>
            (row.getSeq[Int](0).toArray, row.getSeq[Double](1).toArray,
              row.getDouble(2), row.getDouble(3))
          }.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val (nRows, wSum) = raw.treeAggregate((0L, 0.0))(
            seqOp = (s, r) => {
              require(r._4 >= 0, "weights must be non-negative")
              if (r._4 > 0) (s._1 + 1, s._2 + r._4) else s
            },
            combOp = (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
          require(nRows > 0, "the response (y) is empty.")
          val norm = nRows.toDouble / wSum
          val g = raw.filter(_._4 > 0).treeAggregate(new GramStats(dim, 1))(
            seqOp = (s, r) =>
              s.addSparseWeighted(r._1, r._2, Array(r._3), r._4 * norm),
            combOp = (a, b) => a.merge(b), depth = 2)
          solveGaussianFromStats(g, (0 until dim).map(j => s"V$j"),
            Seq(labelCol), params)
        } finally { raw.unpersist(blocking = false); () }
      case "binomial" | "poisson" =>
        fitCsrGlm(df, idxCol, valCol, dim, labelCol, params,
          weightCol = weightCol)
      case "multinomial" =>
        fitSparseMultinomial(df, idxCol, valCol, dim, labelCol, params,
          weightCol)
      case f => throw new IllegalArgumentException(
        s"fitSparseWeighted supports gaussian, binomial, poisson, " +
          s"multinomial, not $f")
    }
  }

  /** Sparse-input fit WITH a linear-predictor offset (round 16 —
    * closes the sparse × offset cells; glmnet accepts offset with a
    * dgCMatrix x): gaussian reduces exactly to [[fitSparse]] /
    * [[fitSparseWeighted]] on y − offset; binomial/poisson run the
    * shared IRLS path ([[fitIrls]]) over CSR rows — never densified —
    * with the per-row offset in every linear predictor and the WLS
    * target z − off. Null intercepts: poisson closed-form
    * ln(Σv·y/Σv·e^off); binomial via the driver Newton loop (exact at
    * the mean-offset-shifted logit start for constant offsets). The
    * lambda path uses the offset-corrected null gradient. `weightCol`
    * folds sum-to-n normalized frequency weights into every
    * accumulation. */
  def fitSparseWithOffset(df: DataFrame, idxCol: String, valCol: String,
                          dim: Int, labelCol: String, offsetCol: String,
                          params: SgdNetParams = SgdNetParams(),
                          weightCol: String = null): SgdNetModel = {
    requireGramP(dim)
    import org.apache.spark.sql.functions.{col, lit}
    params.family match {
      case "gaussian" =>
        val adj = df.withColumn(labelCol,
          col(labelCol).cast("double") - col(offsetCol).cast("double"))
        if (weightCol == null) fitSparse(adj, idxCol, valCol, dim, labelCol,
          params)
        else fitSparseWeighted(adj, idxCol, valCol, dim, labelCol, weightCol,
          params)
      case "binomial" | "poisson" =>
        fitCsrGlm(df, idxCol, valCol, dim, labelCol, params, weightCol,
          offsetCol)
      case f => throw new IllegalArgumentException(
        s"fitSparseWithOffset supports gaussian, binomial, poisson, not $f")
    }
  }

  // ---------------------------------------------------------------- gaussian

  private def fitGaussianLike(df: DataFrame, featureCols: Seq[String],
                              labelCols: Seq[String], params: SgdNetParams): SgdNetModel = {
    val rdd = SufficientStats.toRdd(df, featureCols, labelCols)
    val g = SufficientStats.compute(rdd, featureCols.size, labelCols.size)
    solveGaussianFromStats(g, featureCols, labelCols, params)
  }

  /** L2-penalty multiplier under [[SgdNetParams.sgdnetCompat]]: the
    * reference's implemented penalty construction divides the working
    * penalties by max(y_scale) (src/utils.h:170-180), which on the
    * original scale leaves L1 alone and scales L2 by 1/sd_pop(y) —
    * gaussian single-response only (every other family keeps
    * y_scale = 1). `yVar` must be ORIGINAL-scale population variances.
    * A constant response (sd 0) degrades to 1 — the reference's lambda
    * path is all-zero there anyway. */
  private[ml] def compatL2Scale(params: SgdNetParams, k: Int,
                                yVar: Array[Double]): Double =
    if (params.sgdnetCompat && k == 1) {
      val s = math.sqrt(yVar(0))
      if (s > 0) 1.0 / s else 1.0
    } else 1.0

  /** Solve the full gaussian/mgaussian path from one-pass statistics. */
  /** Features below this count solve the full CD problem directly —
    * screening bookkeeping isn't worth it, and the small-p paths (every
    * oracle query) keep their exact round-15 arithmetic. At or above
    * it, [[solveGaussianFromStats]] runs the SEQUENTIAL STRONG RULE
    * (Tibshirani et al. 2012, "Strong rules for discarding predictors
    * in lasso-type problems", JRSS-B 74(2)) with an exact KKT
    * backcheck — the screened path is EQUAL to the unscreened one by
    * construction, it just solves a |active|-sized subproblem per
    * lambda instead of a p-sized one. */
  private[ml] val ScreenMinP: Int = 32
  /** Test seam (round 18): disables the per-Newton IRLS strong-rule
    * screen so chassis-level specs can assert screened == unscreened
    * through the REAL dense/sparse fit routes (not just the solver).
    * Production code never touches it. */
  @volatile private[graft] var screenGlm: Boolean = true

  private[ml] def solveGaussianFromStats(g: GramStats, featureCols: Seq[String],
                                     labelCols: Seq[String],
                                     params: SgdNetParams,
                                     screen: Boolean = true): SgdNetModel = {
    val p = featureCols.size
    val k = labelCols.size
    require(g.n > 0, "the response (y) is empty.")
    val raw = SufficientStats.standardize(g, params.standardize, params.intercept)

    // optional response standardization (mgaussian only): pure moment math
    val yScale: Array[Double] =
      if (params.standardizeResponse)
        raw.yVar.map(v => { val s = math.sqrt(v); if (s > 0) s else 1.0 })
      else Array.fill(k)(1.0)
    // sgdnetCompat: L2 term scaled by 1/sd_pop(y) (see SgdNetParams);
    // single-response gaussian only — the reference's y_scale is 1 for
    // every other family, and its mgaussian Standardize(y) never writes
    // y_scale either (families.h:340-346), so max(y_scale) stays 1 there
    val l2Scale = compatL2Scale(params, k, raw.yVar)
    val st = raw.copy(
      b = Array.tabulate(k, p)((t, j) => raw.b(t)(j) / yScale(t)),
      yMean = Array.tabulate(k)(t => raw.yMean(t) / yScale(t)),
      yVar = Array.tabulate(k)(t => raw.yVar(t) / (yScale(t) * yScale(t))))

    require(params.penaltyFactor == null ||
      (params.penaltyFactor.length == p && params.penaltyFactor.forall(_ >= 0)),
      "penaltyFactor must have one non-negative entry per feature")
    // the unpenalized-coordinate lambda_max projection below is
    // single-response; the group path needs an explicit lambda there
    if (k > 1) requireNoZeroPf(params, "mgaussian group")
    val minRatio = if (params.lambdaMinRatio.isNaN)
      LambdaPath.defaultMinRatio(g.n, p) else params.lambdaMinRatio
    // lambda_max under penalty factors with UNPENALIZED coordinates
    // (pf = 0): glmnet semantics — those coordinates are fit exactly
    // first, and the path starts where every PENALIZED gradient of the
    // residual problem is dominated: max |c_j − A_jU·β_U| / pf_j. The
    // null-model bound would leave penalized coefficients live at the
    // first path point.
    val pathB: Array[Array[Double]] = {
      val pf = params.penaltyFactor
      if (params.lambda != null || pf == null || !pf.contains(0.0)) st.b
      else {
        val unpen = (0 until p).filter(j => pf(j) == 0.0)
        val aU = Array.tabulate(unpen.size, unpen.size)((i2, j2) =>
          st.gram(unpen(i2))(unpen(j2)))
        val sol = LinAlg.solve(aU, unpen.map(j => st.b(0)(j)).toArray)
        Array(Array.tabulate(p)(j => st.b(0)(j) -
          unpen.zipWithIndex.map { case (u, i2) =>
            st.gram(j)(u) * sol(i2) }.sum))
      }
    }
    val lambdas = if (params.lambda != null) params.lambda
      else LambdaPath.build(pathB, params.alpha, params.nlambda, minRatio,
        params.penaltyFactor)

    val scale = if (params.standardize) st.xSd else Array.fill(p)(1.0)
    // null deviance: intercept-model RSS (or zero-model if no intercept).
    // ySecond is on the response-STANDARDIZED scale (matching the fit);
    // nulldev is reported on the ORIGINAL y scale (ySecond * yScale^2),
    // the same scale rss is converted to below — so dev.ratio never mixes
    // the two even when standardizeResponse=true.
    val ySecond = Array.tabulate(k) { t =>
      if (params.intercept) st.yVar(t) else st.yVar(t) + st.yMean(t) * st.yMean(t)
    }
    val nulldev = g.n * (0 until k).map(t => ySecond(t) * yScale(t) * yScale(t)).sum

    val L = lambdas.length
    val a0 = Array.ofDim[Double](L, k)
    val beta = Array.ofDim[Double](L, k, p)
    val devRatio = new Array[Double](L)
    var warm = Array.ofDim[Double](k, p)
    var totalIters = 0
    val (loStd, upStd) =
      if (k == 1) boundsStd(params, scale, yScale(0)) else (null, null)
    // mgaussian limits (round 16 — the boxed group prox closes the
    // documented gap): per-response standardized bounds [k][p], since
    // standardize.response makes the working bound response-specific
    val (loG, upG) =
      if (k == 1 || (params.lowerLimits == null && params.upperLimits == null))
        (null, null)
      else {
        val rows = (0 until k).map(t => boundsStd(params, scale, yScale(t)))
        (rows.map(_._1).toArray, rows.map(_._2).toArray)
      }

    // strong-rule screening applies to the single-response l1-bearing
    // path at scale (alpha = 0 keeps every coordinate by definition)
    val useScreen = screen && k == 1 && params.alpha > 0 && p >= ScreenMinP

    /** One screened path point: sequential strong rule from the
      * previous solution's gradient, CD on the surviving subproblem,
      * then the exact KKT sweep over the discarded coordinates —
      * violators (rare; the rule's assumption is unit-slope gradient
      * paths) re-enter and the subproblem re-solves, so the final
      * coefficients satisfy the FULL problem's optimality conditions:
      * equality with the unscreened solve is structural, not
      * approximate. Discarded coordinates hold beta = 0 (they were
      * zero in the warm start by construction of the active set). */
    /** Full (unscreened) solve at one point — the dense-regime route
      * and the gate fallback. */
    def fullSolve(lam: Double, w0: Array[Double]): (Array[Double], Int) = {
      val r = CoordinateDescent.solve(st.gram, st.b(0),
        new Array[Double](p), 0.0, 1.0, lam, params.alpha,
        intercept = false, init = w0,
        thresh = params.thresh * 1e-4, maxIter = params.maxit,
        l2Scale = l2Scale, penaltyFactor = params.penaltyFactor,
        lower = loStd, upper = upStd)
      (r.beta, r.iters)
    }

    def screenSolve(lam: Double, lamPrev: Double,
                    w0: Array[Double]): (Array[Double], Int) = {
      val pf = params.penaltyFactor
      // DENSITY GATE: screening pays off while solutions are sparse
      // (p >> n or the upper path); once the active set approaches p,
      // the subproblem IS the full problem and the bookkeeping
      // (gradient pass, submatrix copies, KKT sweeps) only adds cost —
      // measured 7x slower at df ~= p vs 2x faster at df << p. A dense
      // warm start means a dense next point: take the direct route.
      val nz0 = (0 until p).filter(j => w0(j) != 0.0).toArray
      if (nz0.length * 2 > p) return fullSolve(lam, w0)
      // gradient of the working objective at the warm solution:
      // grad_j = c_j − (A·w0)_j, with A·w0 over w0's nonzeros only
      val grad = new Array[Double](p)
      var j = 0
      while (j < p) {
        var s = 0.0
        val gj = st.gram(j)
        var i = 0
        while (i < nz0.length) { s += gj(nz0(i)) * w0(nz0(i)); i += 1 }
        grad(j) = st.b(0)(j) - s
        j += 1
      }
      val bound = params.alpha * (2.0 * lam - lamPrev)
      val inAct = new Array[Boolean](p)
      val act = scala.collection.mutable.ArrayBuffer.empty[Int]
      j = 0
      while (j < p) {
        val pfj = if (pf == null) 1.0 else pf(j)
        // keep: warm-nonzero, unpenalized, or strong-rule survivors
        if (w0(j) != 0.0 || pfj == 0.0 || math.abs(grad(j)) >= bound * pfj) {
          inAct(j) = true; act += j
        }
        j += 1
      }
      // same gate on the PROPOSED set: a strong set near p gains nothing
      if (act.length * 2 > p) return fullSolve(lam, w0)
      val out = w0.clone()
      var iters = 0
      var done = false
      while (!done) {
        val m = act.length
        val idx = act.toArray
        val aSub = Array.tabulate(m, m)((x, y) => st.gram(idx(x))(idx(y)))
        val cSub = Array.tabulate(m)(x => st.b(0)(idx(x)))
        val initSub = Array.tabulate(m)(x => out(idx(x)))
        val loS = if (loStd == null) null else Array.tabulate(m)(x => loStd(idx(x)))
        val upS = if (upStd == null) null else Array.tabulate(m)(x => upStd(idx(x)))
        val pfS = if (pf == null) null else Array.tabulate(m)(x => pf(idx(x)))
        val r = CoordinateDescent.solve(aSub, cSub,
          new Array[Double](m), 0.0, 1.0, lam, params.alpha,
          intercept = false, init = initSub,
          thresh = params.thresh * 1e-4, maxIter = params.maxit,
          l2Scale = l2Scale, penaltyFactor = pfS,
          lower = loS, upper = upS)
        iters += r.iters
        var x = 0
        while (x < m) { out(idx(x)) = r.beta(x); x += 1 }
        // exact KKT over the discarded coordinates (all at beta = 0):
        // subgradient optimality is |c_j − A_j,act·beta| <= lam*alpha*pf_j
        // (the L2 term's gradient vanishes at 0); tolerance tracks the
        // CD convergence threshold so finite-precision actives don't
        // spuriously re-enter
        val nz2 = idx.filter(out(_) != 0.0)
        // round 18: track the CD solve threshold (thresh*1e-4 above),
        // not 1e-2 — the same slack class tightened in solveScreened
        val tol = math.max(params.thresh * 1e-4, 1e-12) * math.max(lam, 1.0)
        var violations = 0
        j = 0
        while (j < p) {
          if (!inAct(j)) {
            var s = 0.0
            val gj = st.gram(j)
            var i = 0
            while (i < nz2.length) { s += gj(nz2(i)) * out(nz2(i)); i += 1 }
            val pfj = if (pf == null) 1.0 else pf(j)
            if (math.abs(st.b(0)(j) - s) > lam * params.alpha * pfj + tol) {
              inAct(j) = true; act += j; violations += 1
            }
          }
          j += 1
        }
        done = violations == 0
      }
      (out, iters)
    }

    val dfGate = new DfGate(params, p)
    var cutL = L
    var l = 0
    while (l < L) {
      val lam = lambdas(l)
      val (sol, iters) =
        if (k == 1) {
          if (useScreen && l > 0) {
            val (b1, it1) = screenSolve(lam, lambdas(l - 1), warm(0))
            (Array(b1), it1)
          } else {
            val r = CoordinateDescent.solve(st.gram, st.b(0),
              new Array[Double](p), 0.0, 1.0, lam, params.alpha,
              intercept = false, init = warm(0),
              thresh = params.thresh * 1e-4, maxIter = params.maxit,
              l2Scale = l2Scale, penaltyFactor = params.penaltyFactor,
              lower = loStd, upper = upStd)
            (Array(r.beta), r.iters)
          }
        } else {
          CoordinateDescent.solveGroup(st.gram, st.b, lam, params.alpha,
            warm, thresh = params.thresh * 1e-4, maxIter = params.maxit,
            penaltyFactor = params.penaltyFactor, lower = loG, upper = upG)
        }
      warm = sol
      totalIters += iters
      // glmnet dfmax/pmax: a violating point is dropped and the path
      // stops (the shorter lambda sequence is returned)
      if (!dfGate.admit(j => (0 until k).exists(t => sol(t)(j) != 0.0))) {
        cutL = l
        l = L
      } else {
        var rss = 0.0
        for (t <- 0 until k) {
          val bt = sol(t)
          // RSS/n on working scale = E[yc^2] - 2 b.beta + beta' G beta
          var bb = 0.0; var gq = 0.0
          var j = 0
          while (j < p) {
            bb += st.b(t)(j) * bt(j)
            var m = 0
            var s = 0.0
            while (m < p) { s += st.gram(j)(m) * bt(m); m += 1 }
            gq += bt(j) * s
            j += 1
          }
          rss += (ySecond(t) - 2 * bb + gq) * yScale(t) * yScale(t)
          for (j2 <- 0 until p) beta(l)(t)(j2) = bt(j2) / scale(j2) * yScale(t)
          a0(l)(t) = if (params.intercept)
            st.yMean(t) * yScale(t) - (0 until p).map(j3 => beta(l)(t)(j3) * st.xMean(j3)).sum
          else 0.0
        }
        devRatio(l) = SgdNetModel.devRatio(g.n * rss, nulldev)
        l += 1
      }
    }
    require(cutL > 0, "dfmax/pmax exclude every path point")

    new SgdNetModel(params.family, featureCols.toArray, labelCols.toArray,
      Array.empty, lambdas.take(cutL), a0.take(cutL), beta.take(cutL),
      nulldev, devRatio.take(cutL), g.n, totalIters, params)
  }

  /** Weighted gaussian elastic-net path (glmnet `weights`): minimizes
    * 1/(2W) Σ w_i(y_i − a0 − x_i'β)² + λ[(1−α)/2‖β‖² + α‖β‖₁] with
    * W = Σw. Weights are normalized to sum to n (the glmnet
    * convention — lambda values stay comparable to the unweighted
    * fit), then ONE weighted-moment treeAggregate feeds the exact
    * same path solver as [[fit]]: standardization, lambda path,
    * penalty factors, sgdnetCompat all apply on the WEIGHTED
    * moments. Integer weights reproduce row duplication exactly
    * (spec-verified). Zero weights are accepted and drop the
    * observation (the glmnet convention); the sum-to-n normalization
    * runs over the POSITIVE-weight rows only. */
  def fitWeighted(df: DataFrame, featureCols: Seq[String], labelCol: String,
                  weightCol: String,
                  params: SgdNetParams = SgdNetParams()): SgdNetModel = {
    validateCommon(featureCols, Seq(labelCol), params)
    params.family match {
      case "gaussian" =>
        fitWeightedMulti(df, featureCols, Seq(labelCol), weightCol, params)
      case "binomial" | "poisson" =>
        fitDenseGlm(df, featureCols, labelCol, params, weightCol = weightCol)
      case "multinomial" =>
        fitWeightedMultinomial(df, featureCols, labelCol, weightCol, params)
      case f => throw new IllegalArgumentException(
        s"fitWeighted supports gaussian, binomial, poisson, multinomial, " +
          s"and (via fitWeightedMulti) mgaussian, not $f")
    }
  }

  /** Multi-response weighted fit (glmnet `weights` with
    * family = "mgaussian", and the gaussian k = 1 case): identical
    * weighted-moment construction to the single-response route — the
    * GramStats carry k response columns and the group solver couples
    * them only driver-side, so weights fold into ONE treeAggregate
    * regardless of k. */
  def fitWeightedMulti(df: DataFrame, featureCols: Seq[String],
                       labelCols: Seq[String], weightCol: String,
                       params: SgdNetParams = SgdNetParams()): SgdNetModel = {
    validateCommon(featureCols, labelCols, params)
    require(params.family == "gaussian" || params.family == "mgaussian",
      s"fitWeightedMulti is the gaussian/mgaussian route, not ${params.family}")
    require(params.family == "mgaussian" || labelCols.size == 1,
      "response for gaussian must be one-dimensional (family=\"mgaussian\" for multi)")
    val g = weightedGramStats(df, featureCols, labelCols, weightCol)
    solveGaussianFromStats(g, featureCols, labelCols, params)
  }

  /** ONE-pass sum-to-n-normalized weighted moments — the statistics a
    * weighted gaussian/mgaussian fit solves from, shared by
    * [[fitWeightedMulti]], [[relaxedFitWeighted]], and the weighted
    * refit route. w == 0 drops the observation (glmnet accepts it);
    * n counts the kept rows so the normalization runs over them only. */
  private[ml] def weightedGramStats(df: DataFrame, featureCols: Seq[String],
                                    labelCols: Seq[String],
                                    weightCol: String): GramStats = {
    import org.apache.spark.sql.functions.col
    val p = featureCols.size
    val k = labelCols.size
    val rows = df.select((featureCols.map(c => col(c).cast("double")) ++
        labelCols.map(c => col(c).cast("double")) :+
        col(weightCol).cast("double")): _*)
      .rdd.map { r =>
        val x = Array.tabulate(p)(j => r.getDouble(j))
        val y = Array.tabulate(k)(t => r.getDouble(p + t))
        (x, y, r.getDouble(p + k))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (nRows, wSum) = rows.treeAggregate((0L, 0.0))(
        seqOp = (s, r) => {
          require(r._3 >= 0, "weights must be non-negative")
          if (r._3 > 0) (s._1 + 1, s._2 + r._3) else s
        },
        combOp = (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
      require(nRows > 0, "the response (y) is empty.")
      val norm = nRows.toDouble / wSum
      rows.treeAggregate(new GramStats(p, k))(
        seqOp = (s, r) =>
          if (r._3 > 0) s.addWeighted(r._1, r._2, r._3 * norm) else s,
        combOp = (a, b) => a.merge(b), depth = 2)
    } finally { rows.unpersist(blocking = false); () }
  }

  /** Relaxed elastic-net path (glmnet `relax = TRUE`): for each lambda,
    * the UNPENALIZED least-squares refit restricted to that lambda's
    * active set, plus the γ-blend γ·penalized + (1−γ)·refit (γ=1 is
    * the original path, γ=0 fully relaxed). The reference has no
    * counterpart; glmnet users migrating through sgdnet ask for it
    * because the lasso's shrinkage bias on the SELECTED coefficients
    * is often unwanted once selection is done (Meinshausen 2007). */
  final case class RelaxedPath(model: SgdNetModel, olsA0: Array[Double],
                               olsBeta: Array[Array[Double]], gamma: Double) {
    def blendedA0(l: Int): Double =
      gamma * model.a0(l)(0) + (1 - gamma) * olsA0(l)
    def blendedBeta(l: Int): Array[Double] =
      Array.tabulate(model.beta(l)(0).length)(j =>
        gamma * model.beta(l)(0)(j) + (1 - gamma) * olsBeta(l)(j))
    /** Persist the relaxed path (round 17): the penalized model under
      * `<path>/penalized`, the active-set refits + gamma under
      * `<path>/refit` — restored by [[SgdNet.loadRelaxedPath]]. Same
      * overwrite contract as [[SgdNetModel.save]]. */
    def save(spark: org.apache.spark.sql.SparkSession, path: String,
             overwrite: Boolean = true): Unit = {
      import spark.implicits._
      SgdNetModel.checkOverwrite(spark, path, overwrite)
      model.save(spark, s"$path/penalized")
      olsA0.indices.map(l => (l, gamma, olsA0(l), olsBeta(l).toSeq))
        .toDF("lambda_idx", "gamma", "ols_a0", "ols_beta")
        .repartition(1).write.mode("overwrite").parquet(s"$path/refit")
    }
  }

  /** Restore a relaxed path persisted by [[RelaxedPath.save]]. */
  def loadRelaxedPath(spark: org.apache.spark.sql.SparkSession,
                      path: String): RelaxedPath = {
    val model = SgdNetModel.load(spark, s"$path/penalized")
    val rows = spark.read.parquet(s"$path/refit")
      .select("lambda_idx", "gamma", "ols_a0", "ols_beta")
      .collect().sortBy(_.getInt(0))
    RelaxedPath(model, rows.map(_.getDouble(2)),
      rows.map(_.getSeq[Double](3).toArray), rows.head.getDouble(1))
  }

  /** Fit the gaussian path, then refit each lambda's active set
    * unpenalized — from the SAME one-pass sufficient statistics, so
    * the relaxed path costs zero extra data passes: the active-set
    * normal equations gram_AA·x = b_A solve driver-side (active sets
    * are p-bounded). Empty active set refits to the intercept-only
    * model. */
  def relaxedFit(df: DataFrame, featureCols: Seq[String], labelCol: String,
                 params: SgdNetParams = SgdNetParams(),
                 gamma: Double = 1.0): RelaxedPath = {
    // binomial/poisson route to the IRLS refit (round 16); gaussian
    // keeps the one-pass moment route
    if (params.family == "binomial" || params.family == "poisson")
      return relaxedFitGlm(df, featureCols, labelCol, params, gamma)
    validateRelaxed(params, gamma)
    val rdd = SufficientStats.toRdd(df, featureCols, Seq(labelCol))
    val g = SufficientStats.compute(rdd, featureCols.size, 1)
    relaxedFromStats(g, featureCols, labelCol, params, gamma)
  }

  /** WEIGHTED relaxed fit (glmnet `relax = TRUE` + `weights`): the
    * active-set OLS refit runs on the same one-pass WEIGHTED moments
    * the penalized path solves from — v-weighted least squares on each
    * lambda's active set, zero extra data passes, exactly
    * [[relaxedFit]]'s shape. Integer weights reproduce row duplication
    * (spec). */
  /** Relaxed fit WITH a linear-predictor offset (round 17 — glmnet
    * relax = TRUE + offset, completing relax × offset): gaussian
    * delegates to the plain relax on the offset-adjusted response
    * (identity link — fitting y − offset IS the offset model, same
    * reduction as [[fitWithOffset]]); binomial/poisson route to the
    * offset-aware IRLS refit ([[relaxedFitGlm]]: η includes the
    * row's offset in every refit accumulation, the WLS target
    * excludes it, empty sets take the OFFSET null). `weightCol`
    * composes (offset + weights together). */
  def relaxedFitWithOffset(df: DataFrame, featureCols: Seq[String],
                           labelCol: String, offsetCol: String,
                           params: SgdNetParams = SgdNetParams(),
                           gamma: Double = 1.0,
                           weightCol: String = null): RelaxedPath = {
    import org.apache.spark.sql.functions.col
    if (params.family == "binomial" || params.family == "poisson")
      return relaxedFitGlm(df, featureCols, labelCol, params, gamma,
        weightCol, offsetCol)
    require(params.family == "gaussian",
      s"relaxed offset fit supports gaussian, binomial, poisson, not ${params.family}")
    val adj = df.select((featureCols.map(col) ++
      (if (weightCol == null) Nil else Seq(col(weightCol))) :+
      (col(labelCol).cast("double") - col(offsetCol).cast("double"))
        .as(labelCol)): _*)
    if (weightCol != null)
      relaxedFitWeighted(adj, featureCols, labelCol, weightCol, params, gamma)
    else relaxedFit(adj, featureCols, labelCol, params, gamma)
  }

  def relaxedFitWeighted(df: DataFrame, featureCols: Seq[String],
                         labelCol: String, weightCol: String,
                         params: SgdNetParams = SgdNetParams(),
                         gamma: Double = 1.0): RelaxedPath = {
    // binomial/poisson route to the weighted IRLS refit (round 17 —
    // glmnet relax = TRUE + weights for every family)
    if (params.family == "binomial" || params.family == "poisson")
      return relaxedFitGlm(df, featureCols, labelCol, params, gamma, weightCol)
    validateRelaxed(params, gamma)
    val g = weightedGramStats(df, featureCols, Seq(labelCol), weightCol)
    relaxedFromStats(g, featureCols, labelCol, params, gamma)
  }

  /** SPARSE relaxed fit (glmnet `relax = TRUE` with a dgCMatrix x,
    * round 16): ONE O(nnz²)-per-row sparse-moment pass feeds both the
    * penalized path and every active-set OLS refit — exactly
    * [[relaxedFit]]'s zero-extra-passes shape over CSR rows; with
    * `weightCol`, raw-v weighted moments normalized to sum-to-n (the
    * [[fitSparseWeighted]] convention). */
  def relaxedFitSparse(df: DataFrame, idxCol: String, valCol: String,
                       dim: Int, labelCol: String,
                       params: SgdNetParams = SgdNetParams(),
                       gamma: Double = 1.0,
                       weightCol: String = null): RelaxedPath = {
    requireGramP(dim)
    import org.apache.spark.sql.functions.{col, lit}
    // binomial/poisson route to the sparse IRLS refit (round 17 adds
    // the weighted cell — glmnet relax + weights with a dgCMatrix x)
    if (params.family == "binomial" || params.family == "poisson")
      return relaxedFitGlmSparse(df, idxCol, valCol, dim, labelCol, params,
        gamma, weightCol)
    validateRelaxed(params, gamma)
    val wCol = if (weightCol == null) lit(1.0) else col(weightCol).cast("double")
    val raw = df.select(col(idxCol), col(valCol).cast("array<double>"),
        col(labelCol).cast("double"), wCol)
      .rdd.map { row =>
        (row.getSeq[Int](0).toArray, row.getSeq[Double](1).toArray,
          row.getDouble(2), row.getDouble(3))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val norm =
        if (weightCol == null) 1.0
        else {
          val (nRows, wSum) = raw.treeAggregate((0L, 0.0))(
            seqOp = (s, r) => {
              require(r._4 >= 0, "weights must be non-negative")
              if (r._4 > 0) (s._1 + 1, s._2 + r._4) else s
            },
            combOp = (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
          require(nRows > 0, "the response (y) is empty.")
          nRows.toDouble / wSum
        }
      val g = raw.filter(_._4 > 0).treeAggregate(new GramStats(dim, 1))(
        seqOp = (s, r) => s.addSparseWeighted(r._1, r._2, Array(r._3),
          r._4 * norm),
        combOp = (a, b) => a.merge(b), depth = 2)
      relaxedFromStats(g, (0 until dim).map(j => s"V$j"), labelCol, params,
        gamma)
    } finally { raw.unpersist(blocking = false); () }
  }

  private def validateRelaxed(params: SgdNetParams, gamma: Double): Unit = {
    require(params.family == "gaussian", "relaxedFit: gaussian family only")
    require(gamma >= 0 && gamma <= 1, "gamma must be in [0, 1]")
    require(!params.standardizeResponse,
      "relaxedFit: standardize.response is mgaussian-only")
  }

  /** Relaxed path for the IRLS families (round 16 — glmnet
    * `relax = TRUE` with family = binomial | poisson): the penalized
    * path from [[fit]], then for each lambda the UNPENALIZED IRLS
    * refit restricted to that lambda's active set. All lambdas' refits
    * advance TOGETHER: each Newton round is ONE treeAggregate in which
    * a row contributes its restricted weighted-moment block
    * (Σw, Σwz, Σw·x_A, Σw·x_A·z, Σw·x_A·x_A') to every unconverged
    * lambda, and the per-lambda unpenalized WLS systems solve
    * driver-side — so the refit stage costs a handful of cluster
    * passes regardless of path length, warm-started at the penalized
    * coefficients (no standardization: the unpenalized MLE is
    * scale-equivariant). An empty active set refits to the closed-form
    * null (logit(ȳ) / ln(ȳ)). The γ-blend semantics are
    * [[RelaxedPath]]'s. With `weightCol` (round 17 — glmnet
    * relax = TRUE + weights for the IRLS families) the penalized path
    * comes from [[fitWeighted]] and every refit accumulation folds the
    * raw v into the IRLS weight (the unpenalized WLS is
    * scale-invariant in the weights, so no renormalization; w = 0
    * drops the row; the null is the v-weighted mean). With `offsetCol`
    * (round 17 — glmnet relax = TRUE + offset) the penalized path
    * comes from the offset fits, every refit η includes the row's
    * offset while the WLS target excludes it (the solve fits exactly
    * a0 + x_A·β), and the empty-set null is the OFFSET null (poisson
    * closed-form exposure MLE; binomial via a driver Newton over
    * one-pair data passes, exact at the start for constant offsets). */
  def relaxedFitGlm(df: DataFrame, featureCols: Seq[String],
                    labelCol: String,
                    params: SgdNetParams,
                    gamma: Double = 1.0,
                    weightCol: String = null,
                    offsetCol: String = null): RelaxedPath = {
    require(params.family == "binomial" || params.family == "poisson",
      s"relaxedFitGlm is the IRLS-family route (binomial|poisson), not ${params.family}")
    require(gamma >= 0 && gamma <= 1, "gamma must be in [0, 1]")
    val weighted = weightCol != null
    val hasOffset = offsetCol != null
    val model = (weighted, hasOffset) match {
      case (true, true) =>
        fitWithOffsetWeighted(df, featureCols, labelCol, offsetCol,
          weightCol, params)
      case (true, false) => fitWeighted(df, featureCols, labelCol, weightCol,
        params)
      case (false, true) => fitWithOffset(df, featureCols, labelCol,
        offsetCol, params)
      case (false, false) => fit(df, featureCols, labelCol, params)
    }
    val rows = glmRows(df, featureCols, glmLabel(model, labelCol), weightCol,
      offsetCol)
    try relaxedGlmRefit(rows, model, params, gamma, hasOffset)
    finally { rows.unpersist(blocking = false); () }
  }

  /** The response column of a fitted binomial/poisson `model`: binomial
    * as P(label == its second class), poisson as the count. */
  private[ml] def glmLabel(model: SgdNetModel, labelCol: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    if (model.family == "binomial")
      (col(labelCol).cast("string") === model.classLabels(1)).cast("double")
    else col(labelCol).cast("double")
  }

  /** Lockstep unpenalized IRLS refits of a fitted GLM path's active
    * sets over [[glmRows]] rows — the [[relaxedFitGlm]] refit stage
    * as a standalone: every cluster pass accumulates only the
    * RESTRICTED per-lambda moment blocks (O(Σ_live |A_l|²) per row,
    * never p²), so the LARGE-P screened penalized paths
    * (`LargeP.relaxedFitBinomial`/`relaxedFitPoisson`) reuse it
    * unchanged — the refit machinery never had a p² term to remove.
    * Weights enter RAW (the WLS solves and the null closed forms are
    * invariant to uniform weight scaling, so raw v and sum-to-n
    * normalized vn give identical refits). */
  private[ml] def relaxedGlmRefit(rows: RDD[GlmRow],
                                  model: SgdNetModel, params: SgdNetParams,
                                  gamma: Double, hasOffset: Boolean): RelaxedPath = {
    val binomial = params.family == "binomial"
    locally {
      val L = model.lambda.length
      val active: Array[Array[Int]] =
        model.beta.map(bl => bl(0).indices.filter(bl(0)(_) != 0.0).toArray)
      val a0R = Array.tabulate(L)(l => model.a0(l)(0))
      val bR = Array.tabulate(L)(l => model.beta(l)(0).clone())
      val done = new Array[Boolean](L)
      // empty active sets refit to the closed-form (v-weighted) null —
      // the OFFSET null when an offset rides along
      if (active.exists(_.isEmpty)) {
        val a0Null =
          if (!params.intercept) 0.0
          else if (!hasOffset) {
            val (sy, n) = rows.treeAggregate((0.0, 0.0))(
              (s, r) => (s._1 + r.w * r.y, s._2 + r.w),
              (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
            val ybar = sy / n
            if (binomial) math.log(ybar / (1 - ybar)) else math.log(ybar)
          } else if (!binomial) {
            // poisson exposure MLE: a0 = ln(Σv·y / Σv·e^off)
            val (sy, se) = rows.treeAggregate((0.0, 0.0))(
              (s, r) => (s._1 + r.w * r.y, s._2 + r.w * math.exp(
                math.max(math.min(r.off, 30.0), -30.0))),
              (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
            math.log(sy / se)
          } else {
            // binomial offset null: Newton on Σv·σ(a0+off) = Σv·y from
            // the mean-offset-shifted logit (exact for constant offsets)
            val (sy, sv, so) = rows.treeAggregate((0.0, 0.0, 0.0))(
              (s, r) => (s._1 + r.w * r.y, s._2 + r.w, s._3 + r.w * r.off),
              (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3), depth = 2)
            val ybar = sy / sv
            var a0n = math.log(ybar / (1 - ybar)) - so / sv
            var it = 0
            var doneN = false
            while (!doneN && it < 50) {
              val (g, h) = rows.treeAggregate((0.0, 0.0))(
                (s, r) => {
                  val mu = 1.0 / (1.0 + math.exp(-(a0n + r.off)))
                  (s._1 + r.w * (mu - r.y), s._2 + r.w * mu * (1.0 - mu))
                },
                (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
              if (math.abs(g / sv) < 1e-12 || h <= 0) doneN = true
              else { a0n -= g / h; it += 1 }
            }
            a0n
          }
        for (l <- 0 until L if active(l).isEmpty) {
          a0R(l) = a0Null
          java.util.Arrays.fill(bR(l), 0.0)
          done(l) = true
        }
      }
      // restricted-moment layout per unconverged lambda:
      // [Σw, Σwz, Σw·x_A (m), Σw·x_A·z (m), packed Σw·x·x' (tri(m))]
      val sc = rows.sparkContext
      val tol = math.max(params.thresh * 1e-2, 1e-8)
      var iter = 0
      while (iter < 25 && !done.forall(identity)) {
        val live = (0 until L).filter(!done(_)).toArray
        val sizes = live.map(l => 2 + 2 * active(l).length +
          LinAlg.triSize(active(l).length))
        val offs = sizes.scanLeft(0)(_ + _)
        val total = offs.last
        val bState = sc.broadcast((live, live.map(active(_)),
          live.map(a0R(_)), live.map(bR(_)), offs))
        val acc = rows.treeAggregate(new Array[Double](total))(
          (s, row) => {
            val x = row.x; val y = row.y; val v = row.w; val off = row.off
            val (lv, acts, a0s, bs, os) = bState.value
            var i = 0
            while (i < lv.length) {
              val a = acts(i)
              val m = a.length
              var eta = a0s(i) + off
              var q = 0
              while (q < m) { eta += bs(i)(a(q)) * x(a(q)); q += 1 }
              var w = 0.0
              var z = 0.0
              if (binomial) {
                val mu = 1.0 / (1.0 + math.exp(-eta))
                w = math.max(mu * (1.0 - mu), 1e-5)
                z = eta + (y - mu) / w - off
              } else {
                val etaC = math.max(math.min(eta, 30.0), -30.0)
                val mu = math.exp(etaC)
                w = math.max(mu, 1e-5)
                z = etaC + (y - mu) / w - off
              }
              w *= v
              val base = os(i)
              s(base) += w
              s(base + 1) += w * z
              q = 0
              while (q < m) {
                val wx = w * x(a(q))
                s(base + 2 + q) += wx
                s(base + 2 + m + q) += wx * z
                var r2 = 0
                while (r2 <= q) {
                  s(base + 2 + 2 * m + LinAlg.triIdx(r2, q)) += wx * x(a(r2))
                  r2 += 1
                }
                q += 1
              }
              i += 1
            }
            s
          },
          (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
          depth = 2)
        // per-lambda unpenalized WLS solve (intercept included)
        for (i <- live.indices) {
          val l = live(i)
          val a = active(l)
          val m = a.length
          val base = offs(i)
          val loA = if (params.lowerLimits == null) null
            else a.map(params.lowerLimits(_))
          val upA = if (params.upperLimits == null) null
            else a.map(params.upperLimits(_))
          val (na0, sol) = solveRestrictedWls(acc, base, m,
            params.intercept, loA, upA, a.map(bR(l)(_)), params.maxit)
          var maxD = math.abs(na0 - a0R(l))
          for (q <- 0 until m) {
            val d = math.abs(sol(q) - bR(l)(a(q)))
            if (d > maxD) maxD = d
          }
          a0R(l) = na0
          for (q <- 0 until m) bR(l)(a(q)) = sol(q)
          if (maxD < tol) done(l) = true
        }
        iter += 1
      }
      RelaxedPath(model, a0R, bR, gamma)
    }
  }

  private[ml] def relaxedFromStats(g: GramStats, featureCols: Seq[String],
                                   labelCol: String, params: SgdNetParams,
                                   gamma: Double): RelaxedPath = {
    val model = solveGaussianFromStats(g, featureCols, Seq(labelCol), params)
    val p = featureCols.size
    val st = SufficientStats.standardize(g, params.standardize, params.intercept)
    val scale = if (params.standardize) st.xSd else Array.fill(p)(1.0)
    val L = model.lambda.length
    val olsA0 = new Array[Double](L)
    val olsBeta = Array.ofDim[Double](L, p)
    val (loStdR, upStdR) = boundsStd(params, scale, 1.0)
    for (l <- 0 until L) {
      val active = (0 until p).filter(j => model.beta(l)(0)(j) != 0.0)
      if (active.nonEmpty) {
        val a = Array.tabulate(active.size, active.size)((i, j) =>
          st.gram(active(i))(active(j)))
        val bv = active.map(j => st.b(0)(j)).toArray
        // glmnet relax + lower/upper.limits (round 17): the refit
        // honors the ORIGINAL call's box — CD at λ = 0 with clipped
        // steps on standardized coordinates; unbounded keeps the exact
        // normal-equations solve bit-identically
        val sol =
          if (loStdR == null && upStdR == null) LinAlg.solve(a, bv)
          else CoordinateDescent.solve(a, bv,
            new Array[Double](active.size), 0.0, 1.0, 0.0, 1.0,
            intercept = false,
            active.map(j => model.beta(l)(0)(j) * scale(j)).toArray,
            thresh = 1e-12, maxIter = params.maxit,
            lower = if (loStdR == null) null else active.map(loStdR(_)).toArray,
            upper = if (upStdR == null) null else active.map(upStdR(_)).toArray
          ).beta
        active.zipWithIndex.foreach { case (j, i) =>
          olsBeta(l)(j) = sol(i) / scale(j)
        }
      }
      olsA0(l) = if (params.intercept)
        st.yMean(0) - (0 until p).map(j => olsBeta(l)(j) * st.xMean(j)).sum
      else 0.0
    }
    RelaxedPath(model, olsA0, olsBeta, gamma)
  }

  // ------------------------------------------------------- binomial / poisson

  /** The two IRLS families: mean, floored IRLS weight and unit deviance
    * as functions of the linear predictor. Poisson clamps η to ±30
    * before the mean and the working response; binomial reads η as is. */
  private[ml] sealed abstract class IrlsFamily(val name: String) extends Serializable {
    def clampEta(eta: Double): Double
    def mean(eta: Double): Double
    def weight(mu: Double): Double
    /** Deviance of one unit-weight row at linear predictor `eta`. */
    def unitDeviance(y: Double, eta: Double): Double
  }

  private[ml] case object Binomial extends IrlsFamily("binomial") {
    def clampEta(eta: Double): Double = eta
    def mean(eta: Double): Double = 1.0 / (1.0 + math.exp(-eta))
    def weight(mu: Double): Double = math.max(mu * (1.0 - mu), 1e-5)
    // -2 * [y*eta - log(1+e^eta)] in a numerically stable form
    def unitDeviance(y: Double, eta: Double): Double = {
      val m = math.max(eta, 0.0)
      2.0 * (m + math.log(math.exp(-m) + math.exp(eta - m)) - y * eta)
    }
  }

  private[ml] case object Poisson extends IrlsFamily("poisson") {
    def clampEta(eta: Double): Double = math.max(math.min(eta, 30.0), -30.0)
    def mean(eta: Double): Double = math.exp(eta)
    def weight(mu: Double): Double = math.max(mu, 1e-5)
    // 2 [y ln(y/mu) - (y - mu)], 0 ln 0 = 0
    def unitDeviance(y: Double, eta: Double): Double = {
      val mu = math.exp(clampEta(eta))
      val ylog = if (y > 0) y * math.log(y / mu) else 0.0
      2.0 * (ylog - (y - mu))
    }
  }

  /** Weighted IRLS moments of the working response z: Σw, Σwz, Σw·x,
    * Σw·x·z and the packed Σw·x·x'. */
  private[ml] final class WGram(p: Int) extends Serializable {
    var sw = 0.0; var swz = 0.0
    val swx = new Array[Double](p)
    val swxz = new Array[Double](p)
    val swxx = new Array[Double](LinAlg.triSize(p))
    /** One dense row `xs` with IRLS weight `w` and working response `z`. */
    def add(xs: Array[Double], w: Double, z: Double): Unit = {
      sw += w; swz += w * z
      var j = 0
      while (j < p) {
        val wxj = w * xs(j)
        swx(j) += wxj
        swxz(j) += wxj * z
        var i = 0
        val base = j * (j + 1) / 2
        while (i <= j) { swxx(base + i) += xs(i) * wxj; i += 1 }
        j += 1
      }
    }
    /** One CSR row (sorted `idx`, its `vals`), uncentered. */
    def addSparse(idx: Array[Int], vals: Array[Double], w: Double, z: Double): Unit = {
      sw += w; swz += w * z
      var i = 0
      while (i < idx.length) {
        val j = idx(i)
        val wxj = w * vals(i)
        swx(j) += wxj
        swxz(j) += wxj * z
        var m = 0
        while (m <= i) { swxx(LinAlg.triIdx(idx(m), j)) += wxj * vals(m); m += 1 }
        i += 1
      }
    }
    def merge(o: WGram): WGram = {
      sw += o.sw; swz += o.swz
      var i = 0
      while (i < swx.length) { swx(i) += o.swx(i); swxz(i) += o.swxz(i); i += 1 }
      i = 0
      while (i < swxx.length) { swxx(i) += o.swxx(i); i += 1 }
      this
    }
  }

  /** One binomial/poisson row: response, offset (0.0 without one), the
    * RAW frequency weight (1.0 without one; each model rescales it to
    * sum to its row count, see [[IrlsSetup]]) and the CV fold it is held
    * out of (-1 outside a CV). Row kinds keep primitive fields: a cached
    * row is one object and its arrays, nothing boxed. */
  private[ml] sealed trait IrlsRow extends Serializable {
    def y: Double
    def off: Double
    def w: Double
    def fold: Int
    /** `init` + x·β over the nonzero coefficients `c`, accumulated in
      * column order (dense) or nonzero order (CSR). */
    def eta(init: Double, c: Coefs): Double
    /** Adds this row's w-weighted O(p) moments of (x, y) to `m`. */
    def addTo(m: FoldMoments): Unit
  }

  private[ml] final case class GlmRow(x: Array[Double], y: Double,
                                      off: Double, w: Double,
                                      fold: Int) extends IrlsRow {
    def eta(init: Double, c: Coefs): Double = {
      var e = init
      var i = 0
      while (i < c.idx.length) { e += c.vals(i) * x(c.idx(i)); i += 1 }
      e
    }
    def addTo(m: FoldMoments): Unit = {
      var j = 0
      while (j < x.length) { m.add(j, x(j), w, y); j += 1 }
      m.addRow(w, y)
    }
  }

  /** The CSR twin of [[GlmRow]]: nonzero indices and values of x. */
  private[ml] final case class CsrRow(idx: Array[Int], vals: Array[Double],
                                      y: Double, off: Double, w: Double,
                                      fold: Int) extends IrlsRow {
    def eta(init: Double, c: Coefs): Double = {
      var e = init
      var i = 0
      while (i < idx.length) {
        val s = java.util.Arrays.binarySearch(c.idx, idx(i))
        if (s >= 0) e += c.vals(s) * vals(i)
        i += 1
      }
      e
    }
    def addTo(m: FoldMoments): Unit = {
      var i = 0
      while (i < idx.length) { m.add(idx(i), vals(i), w, y); i += 1 }
      m.addRow(w, y)
    }
  }

  /** The nonzero coefficients of one path point: sorted column indices
    * and their values. Deviance and scoring passes broadcast these, so
    * a dense row costs O(|active|) per point, not O(p), and a CSR row
    * O(nnz·log|active|): one binary search per nonzero. */
  private[ml] final case class Coefs(idx: Array[Int], vals: Array[Double]) {
    def dense(p: Int): Array[Double] = {
      val b = new Array[Double](p)
      var i = 0
      while (i < idx.length) { b(idx(i)) = vals(i); i += 1 }
      b
    }
  }

  private[ml] object Coefs {
    def of(beta: Array[Double]): Coefs = {
      val idx = beta.indices.filter(beta(_) != 0.0).toArray
      Coefs(idx, idx.map(beta))
    }
  }

  /** One fold's raw-weight O(p) moments: rows, Σv, Σv·y, per column
    * Σv·x, Σv·x² and Σv·x·y, and, when asked for, Σv·e^off (offset
    * clamped to ±30) and Σv·off. */
  private[ml] final class FoldMoments(p: Int) extends Serializable {
    var n = 0L
    var sw = 0.0; var swy = 0.0; var sExpOff = 0.0; var sOff = 0.0
    val swx = new Array[Double](p)
    val swxx = new Array[Double](p)
    val swxy = new Array[Double](p)
    @inline def add(j: Int, xj: Double, w: Double, y: Double): Unit = {
      val wxj = w * xj
      swx(j) += wxj; swxx(j) += xj * wxj; swxy(j) += wxj * y
    }
    def addRow(w: Double, y: Double): Unit = { n += 1; sw += w; swy += w * y }
    def merge(o: FoldMoments): FoldMoments = {
      n += o.n; sw += o.sw; swy += o.swy; sExpOff += o.sExpOff; sOff += o.sOff
      var j = 0
      while (j < p) {
        swx(j) += o.swx(j); swxx(j) += o.swxx(j); swxy(j) += o.swxy(j)
        j += 1
      }
      this
    }
  }

  /** The zero of a screened pass: one [[EStats]] per active model. */
  private def estats(F: Int, m: Int, kktP: Int, active: Array[Boolean]): Array[EStats] =
    Array.tabulate(F)(f => if (active(f)) new EStats(m, kktP) else null)

  private def mergeAll(a: Array[EStats], b: Array[EStats]): Array[EStats] = {
    var f = 0; while (f < a.length) { if (a(f) != null) a(f).merge(b(f)); f += 1 }; a
  }

  /** What one screened pass returns for one model: the IRLS moments
    * over the ever-candidate set E and, when asked for, the full-p KKT
    * sums with their row total `sr` (CSR rows center after the pass). */
  private[ml] final class EStats(m: Int, p: Int) extends Serializable {
    val wg = new WGram(m)
    val kkt = new Array[Double](p)
    var sr = 0.0
    def merge(o: EStats): EStats = {
      wg.merge(o.wg); sr += o.sr
      var j = 0
      while (j < kkt.length) { kkt(j) += o.kkt(j); j += 1 }
      this
    }
  }

  /** The rows of binomial/poisson fits and CVs. A pass over them serves
    * several MODELS at once: model f trains every row except those held
    * out in fold f, so a CV's fold models and its full-data model (which
    * no row is held out of) advance together, and a single fit is the
    * one-model case. A zero offset and a unit weight leave every pass
    * bit-identical to one that never read them. One pass kernel per
    * statistic for each row kind. */
  private[ml] sealed trait IrlsRows {
    type R <: IrlsRow
    def rdd: RDD[R]
    def p: Int
    def unpersist(): Unit = { rdd.unpersist(blocking = false); () }

    /** One pass: the raw-weight moments of every fold (one slot for all
      * rows outside a CV), with the offset sums when `offsetSums`. */
    def moments(nfolds: Int, offsetSums: Boolean): Array[FoldMoments] = {
      val p = this.p
      rdd.treeAggregate(Array.fill(math.max(nfolds, 1))(new FoldMoments(p)))(
        seqOp = (acc, r) => {
          val m = acc(if (nfolds == 0) 0 else {
            require(r.fold >= 0 && r.fold < nfolds,
              s"fold index ${r.fold} outside [0, $nfolds)")
            r.fold
          })
          r.addTo(m)
          if (offsetSums) {
            m.sExpOff += r.w * math.exp(math.max(math.min(r.off, 30.0), -30.0))
            m.sOff += r.w * r.off
          }
          acc
        },
        combOp = (a, b) => { var i = 0; while (i < a.length) { a(i).merge(b(i)); i += 1 }; a },
        depth = 2)
    }

    /** (1/n)·Σ xs_j·v·norm·(y − μ) over every row at the null
      * η = off + a0: the gradient λ_max reads when the null mean varies
      * with the offset (full-data model). Not [[screened]]'s KKT vector
      * at β = 0: that reads w'·(z' − η), which leaves y − μ at the last
      * ulp, and by w'·(clamp(η) − η) once a poisson η passes ±30. */
    def nullGradient(fam: IrlsFamily, mean: Array[Double],
                     scale: Array[Double], a0: Double, norm: Double,
                     n: Double): Array[Double]

    /** The one IRLS pass, for every `active` model f over the columns
      * `e` (the ever-candidate set E, which holds every nonzero
      * coefficient; all p columns in order for the full Gram): at
      * η = a0(f) + off + xs_E·bE(f) on model f's standardization
      * (`mean(f)`, `scale(f)`) — bE the standardized coefficients of E's
      * columns — the moments over E of the working response z − off,
      * with the row weight times `norm(f)` folded into the IRLS weight,
      * so each solve fits exactly a0 + xs_E·bE; and, given `frozen` =
      * (a0', bE'), the full-p KKT vector of the WLS under the weights of
      * that point, Σ xs_j·v·norm·w'·(z' − off − a0 − xs_E·bE), not yet
      * divided by n. Returns (moments over E, KKT vector or null);
      * inactive models come back null. */
    def screened(fam: IrlsFamily, mean: Array[Array[Double]],
                 scale: Array[Array[Double]], norm: Array[Double],
                 e: Array[Int], a0: Array[Double], bE: Array[Array[Double]],
                 frozen: (Array[Double], Array[Array[Double]]),
                 active: Array[Boolean]): Array[(WGram, Array[Double])]

    /** One pass of the binomial offset-null Newton for every model f:
      * (Σvn·(y − μ), Σvn·μ(1 − μ)) at η = a0(f) + off, interleaved. */
    def nullNewtonSums(a0: Array[Double], norm: Array[Double]): Array[Double] = {
      val F = a0.length
      rdd.treeAggregate(new Array[Double](2 * F))(
        seqOp = (s, r) => {
          var f = 0
          while (f < F) {
            if (f != r.fold) {
              val vn = r.w * norm(f)
              val mu = 1.0 / (1.0 + math.exp(-(a0(f) + r.off)))
              s(2 * f) += vn * (r.y - mu)
              s(2 * f + 1) += vn * math.max(mu * (1.0 - mu), 1e-10)
            }
            f += 1
          }
          s
        },
        combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
        depth = 2)
    }

    /** One pass: the weight·`norm` deviance over every row at
      * η = off + a0 + x·β of every path point (ORIGINAL scale
      * intercepts and nonzero coefficients). */
    def deviance(fam: IrlsFamily, a0: Array[Double], coefs: Array[Coefs],
                 norm: Double): Array[Double] = {
      val L = a0.length
      val bc = rdd.sparkContext.broadcast(coefs)
      val out = rdd.treeAggregate(new Array[Double](L))(
        seqOp = (acc, r) => {
          val cs = bc.value
          val vn = r.w * norm
          var l = 0
          while (l < L) {
            acc(l) += vn * fam.unitDeviance(r.y, r.eta(a0(l) + r.off, cs(l)))
            l += 1
          }
          acc
        },
        combOp = (a, b) => { var i = 0; while (i < L) { a(i) += b(i); i += 1 }; a },
        depth = 2)
      bc.destroy()
      out
    }
  }

  private[ml] final case class DenseRows(rdd: RDD[GlmRow], p: Int) extends IrlsRows {
    type R = GlmRow

    def nullGradient(fam: IrlsFamily, mean: Array[Double],
                     scale: Array[Double], a0: Double, norm: Double,
                     n: Double): Array[Double] = {
      val p = this.p
      rdd.treeAggregate(new Array[Double](p))(
        seqOp = (acc, r) => {
          val xr = r.x
          val res = r.w * norm * (r.y - fam.mean(fam.clampEta(a0 + r.off)))
          var j = 0
          while (j < p) { acc(j) += (xr(j) - mean(j)) / scale(j) * res; j += 1 }
          acc
        },
        combOp = (a, b) => { var i = 0; while (i < p) { a(i) += b(i); i += 1 }; a },
        depth = 2).map(_ / n)
    }

    def screened(fam: IrlsFamily, mean: Array[Array[Double]],
                 scale: Array[Array[Double]], norm: Array[Double],
                 e: Array[Int], a0: Array[Double], bE: Array[Array[Double]],
                 frozen: (Array[Double], Array[Array[Double]]),
                 active: Array[Boolean]): Array[(WGram, Array[Double])] = {
      val p = this.p
      val F = a0.length
      val m = e.length
      val kkt = frozen != null
      val a0F = if (kkt) frozen._1 else null
      val bc = rdd.sparkContext.broadcast((mean, scale, bE,
        if (kkt) frozen._2 else null))
      val out = rdd.treeAggregate(estats(F, m, if (kkt) p else 0, active))(
        seqOp = (acc, r) => {
          val (mn, sl, b, bF) = bc.value
          val xr = r.x; val y = r.y; val off = r.off
          var f = 0
          while (f < F) {
            if (f != r.fold && active(f)) {
              val mf = mn(f); val sf = sl(f); val bf = b(f)
              val xs = new Array[Double](m)
              var eta = a0(f) + off
              var jj = 0
              while (jj < m) {
                val j = e(jj)
                xs(jj) = (xr(j) - mf(j)) / sf(j)
                eta += xs(jj) * bf(jj)
                jj += 1
              }
              val vn = r.w * norm(f)
              val ec = fam.clampEta(eta)
              val mu = fam.mean(ec)
              val w0 = fam.weight(mu)
              // the frequency weight folds into the IRLS weight
              acc(f).wg.add(xs, w0 * vn, ec + (y - mu) / w0 - off)
              if (kkt) {
                val bz = bF(f)
                var etaF = a0F(f)
                jj = 0
                while (jj < m) { etaF += xs(jj) * bz(jj); jj += 1 }
                val eF = fam.clampEta(etaF + off)
                val muF = fam.mean(eF)
                val wF = fam.weight(muF)
                val res = wF * vn * (eF + (y - muF) / wF - eta)
                val k = acc(f).kkt
                var j = 0
                while (j < p) { k(j) += (xr(j) - mf(j)) / sf(j) * res; j += 1 }
              }
            }
            f += 1
          }
          acc
        },
        combOp = mergeAll(_, _), depth = 2)
      bc.destroy()
      out.map(s => if (s == null) null else (s.wg, if (kkt) s.kkt else null))
    }
  }

  /** CSR rows. Every pass accumulates UNCENTERED sums over each row's
    * nonzeros only (O(nnz²) per row for the full Gram) and centers and
    * standardizes algebraically after the pass, so the sparse matrix is
    * never densified:
    *   Σw·xs_i·xs_j = (Σw·x_i·x_j − m_i·Σw·x_j − m_j·Σw·x_i + m_i·m_j·Σw)/(s_i·s_j)
    * and the linear predictor takes the per-pass scalar
    * a0 − Σ_j m_j·β_j/s_j, O(nnz) per row. */
  private[ml] final case class CsrRows(rdd: RDD[CsrRow], p: Int) extends IrlsRows {
    type R = CsrRow

    /** `wg`'s uncentered sums over the columns with these means and
      * scales, centered and standardized. */
    private def centered(wg: WGram, mean: Array[Double], scale: Array[Double]): WGram = {
      val m = mean.length
      val std = new WGram(m)
      std.sw = wg.sw; std.swz = wg.swz
      var j = 0
      while (j < m) {
        std.swx(j) = (wg.swx(j) - mean(j) * wg.sw) / scale(j)
        std.swxz(j) = (wg.swxz(j) - mean(j) * wg.swz) / scale(j)
        var i = 0
        while (i <= j) {
          val t = LinAlg.triIdx(i, j)
          std.swxx(t) = (wg.swxx(t) - mean(i) * wg.swx(j) -
            mean(j) * wg.swx(i) + mean(i) * mean(j) * wg.sw) /
            (scale(i) * scale(j))
          i += 1
        }
        j += 1
      }
      std
    }

    def nullGradient(fam: IrlsFamily, mean: Array[Double],
                     scale: Array[Double], a0: Double, norm: Double,
                     n: Double): Array[Double] = {
      val p = this.p
      val acc = rdd.treeAggregate(new Array[Double](p + 1))(
        seqOp = (s, r) => {
          val idx = r.idx; val vals = r.vals
          val res = r.w * norm * (r.y - fam.mean(fam.clampEta(a0 + r.off)))
          var i = 0
          while (i < idx.length) { s(idx(i)) += res * vals(i); i += 1 }
          s(p) += res
          s
        },
        combOp = (a, b) => { var i = 0; while (i <= p) { a(i) += b(i); i += 1 }; a },
        depth = 2)
      Array.tabulate(p)(j => (acc(j) - mean(j) * acc(p)) / scale(j) / n)
    }

    /** O(nnz + k_E²) per row and model, k_E the row's nonzeros inside E:
      * each row gathers those once, as E slots; the moments and the KKT
      * sums stay uncentered, and the linear predictor takes the per-pass
      * scalar a0 − Σ_E m_j·β_j/s_j. */
    def screened(fam: IrlsFamily, mean: Array[Array[Double]],
                 scale: Array[Array[Double]], norm: Array[Double],
                 e: Array[Int], a0: Array[Double], bE: Array[Array[Double]],
                 frozen: (Array[Double], Array[Array[Double]]),
                 active: Array[Boolean]): Array[(WGram, Array[Double])] = {
      val p = this.p
      val F = a0.length
      val m = e.length
      val kkt = frozen != null
      // (intercept scalar, β/s over E) of each active model at a point
      def uncentered(a: Array[Double], b: Array[Array[Double]]) = {
        val bos = Array.tabulate(F)(f =>
          if (active(f)) Array.tabulate(m)(jj => b(f)(jj) / scale(f)(e(jj))) else null)
        val c0 = Array.tabulate(F) { f =>
          var c = a(f)
          var jj = 0
          while (active(f) && jj < m) { c -= mean(f)(e(jj)) * bos(f)(jj); jj += 1 }
          c
        }
        (c0, bos)
      }
      val (c0, bos) = uncentered(a0, bE)
      val (c0F, bosF) = if (kkt) uncentered(frozen._1, frozen._2) else (null, null)
      val slot = Array.fill(p)(-1)
      e.indices.foreach(jj => slot(e(jj)) = jj)
      val bc = rdd.sparkContext.broadcast((slot, bos, bosF))
      val raw = rdd.treeAggregate(estats(F, m, if (kkt) p else 0, active))(
        seqOp = (acc, r) => {
          val (sl, bo, boF) = bc.value
          val idx = r.idx; val vals = r.vals; val y = r.y; val off = r.off
          var k = 0
          var cnt = 0
          while (k < idx.length) { if (sl(idx(k)) >= 0) cnt += 1; k += 1 }
          val eS = new Array[Int](cnt); val eV = new Array[Double](cnt)
          k = 0
          var t = 0
          while (k < idx.length) {
            val s = sl(idx(k))
            if (s >= 0) { eS(t) = s; eV(t) = vals(k); t += 1 }
            k += 1
          }
          var f = 0
          while (f < F) {
            if (f != r.fold && active(f)) {
              val bf = bo(f)
              var eta = c0(f) + off
              t = 0
              while (t < cnt) { eta += eV(t) * bf(eS(t)); t += 1 }
              val vn = r.w * norm(f)
              val ec = fam.clampEta(eta)
              val mu = fam.mean(ec)
              val w0 = fam.weight(mu)
              acc(f).wg.addSparse(eS, eV, w0 * vn, ec + (y - mu) / w0 - off)
              if (kkt) {
                val bz = boF(f)
                var etaF = c0F(f)
                t = 0
                while (t < cnt) { etaF += eV(t) * bz(eS(t)); t += 1 }
                val eF = fam.clampEta(etaF + off)
                val muF = fam.mean(eF)
                val wF = fam.weight(muF)
                val res = wF * vn * (eF + (y - muF) / wF - eta)
                if (res != 0.0) {
                  val kk = acc(f).kkt
                  k = 0
                  while (k < idx.length) { kk(idx(k)) += res * vals(k); k += 1 }
                  acc(f).sr += res
                }
              }
            }
            f += 1
          }
          acc
        },
        combOp = mergeAll(_, _), depth = 2)
      bc.destroy()
      Array.tabulate(F) { f =>
        val s = raw(f)
        if (s == null) null
        else (centered(s.wg, e.map(mean(f)), e.map(scale(f))),
          if (kkt) Array.tabulate(p)(j => (s.kkt(j) - mean(f)(j) * s.sr) / scale(f)(j))
          else null)
      }
    }
  }

  /** The glmnet weight rules, shared by both row kinds: with a weight
    * column, w must be non-negative and w = 0 drops the row (the
    * sum-to-n rescale happens per model, from the moments pass). Without
    * one the rows pass through (w ≡ 1). The returned RDD is persisted
    * MEMORY_AND_DISK. */
  private def keptRows[R <: IrlsRow](raw: RDD[R], weighted: Boolean): RDD[R] =
    (if (!weighted) raw
      else raw.filter { r => require(r.w >= 0, "weights must be non-negative"); r.w > 0 })
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** (x, y, offset, raw weight, fold) rows for the dense GLM routes:
    * offset defaults to 0.0, weight to 1.0, fold to -1 (no `foldCol`);
    * [[keptRows]] applies the weight rules. CV rows (a `foldCol`) are
    * spread first when the input is thin ([[cvSpread]]). */
  private[ml] def glmRows(df: DataFrame, featureCols: Seq[String],
                          yCol: org.apache.spark.sql.Column,
                          weightCol: String, offsetCol: String,
                          foldCol: org.apache.spark.sql.Column = null): RDD[GlmRow] = {
    import org.apache.spark.sql.functions.{col, lit}
    val p = featureCols.size
    val sel = df.select((featureCols.map(c => col(c).cast("double")) ++
      irlsCols(yCol, weightCol, offsetCol, foldCol)): _*)
    val raw = sel.rdd.map { row =>
      val x = new Array[Double](p)
      var j = 0
      while (j < p) { x(j) = row.getDouble(j); j += 1 }
      GlmRow(x, row.getDouble(p), row.getDouble(p + 1), row.getDouble(p + 2),
        row.getInt(p + 3))
    }
    keptRows(cvSpread(raw, sel, foldCol), weightCol != null)
  }

  /** The CSR twin of [[glmRows]]: (idx, vals, y, offset, weight, fold). */
  private[ml] def csrRows(df: DataFrame, idxCol: String, valCol: String,
                          yCol: org.apache.spark.sql.Column, weightCol: String,
                          offsetCol: String,
                          foldCol: org.apache.spark.sql.Column = null): RDD[CsrRow] = {
    import org.apache.spark.sql.functions.col
    val sel = df.select((Seq(col(idxCol), col(valCol).cast("array<double>")) ++
      irlsCols(yCol, weightCol, offsetCol, foldCol)): _*)
    val raw = sel.rdd.map { r =>
      CsrRow(r.getSeq[Int](0).toArray, r.getSeq[Double](1).toArray,
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getInt(5))
    }
    keptRows(cvSpread(raw, sel, foldCol), weightCol != null)
  }

  /** CV rows (non-null `foldCol`) of a thin input (`src`'s plan stats
    * within [[graft.ops.Spread.smallByStats]]) are spread before the
    * pass loop: every fold-tiled IRLS round re-scans these persisted
    * blocks, so a one-partition scan would serialize EVERY pass. Modest
    * target (the minhash-kernel lesson: full parallelism floods the
    * per-pass jobs with tiny tasks); no-op at scale. An RDD shuffle, so
    * the first pass runs it inside its own job (a DataFrame exchange is
    * one more job under AQE). Single fits are NOT spread: they run few
    * enough passes that the extra exchange measured as a net loss
    * (bench: q_binom_largep 1.05x, q_relaxed_glm_largep 1.24x). */
  private def cvSpread[R: scala.reflect.ClassTag](rows: RDD[R], src: DataFrame,
      foldCol: org.apache.spark.sql.Column): RDD[R] = {
    val par = math.min(rows.sparkContext.defaultParallelism, 8)
    if (foldCol == null || par < 2 || !graft.ops.Spread.smallByStats(src)) rows
    else rows.repartition(par)
  }

  /** y, offset, weight and fold columns of an IRLS row. */
  private def irlsCols(yCol: org.apache.spark.sql.Column, weightCol: String,
                       offsetCol: String, foldCol: org.apache.spark.sql.Column):
      Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    Seq(yCol,
      if (offsetCol == null) lit(0.0) else col(offsetCol).cast("double"),
      if (weightCol == null) lit(1.0) else col(weightCol).cast("double"),
      if (foldCol == null) lit(-1) else foldCol.cast("int"))
  }

  /** The two sorted class labels of a binomial response; fails on one
    * class or more than two. */
  private[ml] def binomialClasses(df: DataFrame, labelCol: String): Array[String] = {
    import org.apache.spark.sql.functions.col
    val cs = df.select(col(labelCol).cast("string")).distinct()
      .limit(3).collect().map(_.getString(0)).sorted
    require(cs.length == 2,
      if (cs.length > 2) "more than two classes in response. Are you looking for family = 'multinomial'?"
      else "only one class in response.")
    cs
  }

  /** Family, class labels and response column of a binomial/poisson fit:
    * binomial models P(label == classes(1)) as a 0/1 column, poisson
    * reads the label as a count. */
  private[ml] def glmResponse(df: DataFrame, labelCol: String, family: String):
      (IrlsFamily, Array[String], org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.col
    family match {
      case "binomial" =>
        val cs = binomialClasses(df, labelCol)
        (Binomial, cs, (col(labelCol).cast("string") === cs(1)).cast("double"))
      case "poisson" => (Poisson, Array.empty[String], col(labelCol).cast("double"))
      case f => throw new IllegalArgumentException(s"not an IRLS family: $f")
    }
  }

  /** Dense binomial/poisson fit: every dense entry ([[fit]],
    * [[fitWeighted]], [[fitWithOffset]], [[fitWithOffsetWeighted]])
    * lands here, with a null `weightCol` / `offsetCol` when absent. */
  private def fitDenseGlm(df: DataFrame, featureCols: Seq[String],
                          labelCol: String, params: SgdNetParams,
                          weightCol: String = null,
                          offsetCol: String = null): SgdNetModel =
    withIrlsSetup(df, labelCol, params, 0, weightCol != null, offsetCol != null,
      y => DenseRows(glmRows(df, featureCols, y, weightCol, offsetCol),
        featureCols.size)) { (s, classes) =>
      fitIrls(s, featureCols.toArray, labelCol, classes, params)
    }

  /** Sparse (CSR) binomial/poisson fit behind [[fitSparse]],
    * [[fitSparseWeighted]] and [[fitSparseWithOffset]]; feature names
    * are `V$j`. */
  private def fitCsrGlm(df: DataFrame, idxCol: String, valCol: String,
                        dim: Int, labelCol: String, params: SgdNetParams,
                        weightCol: String = null,
                        offsetCol: String = null): SgdNetModel =
    withIrlsSetup(df, labelCol, params, 0, weightCol != null, offsetCol != null,
      y => CsrRows(csrRows(df, idxCol, valCol, y, weightCol, offsetCol), dim)) {
      (s, classes) =>
        fitIrls(s, Array.tabulate(dim)(j => s"V$j"), labelCol, classes, params)
    }

  /** Builds the rows (given the response column) and the [[IrlsSetup]]
    * of a binomial/poisson fit (`nfolds` = 0) or CV, runs `body` on them
    * with the class labels, and releases the rows. */
  private[ml] def withIrlsSetup[T](df: DataFrame, labelCol: String,
                                   params: SgdNetParams, nfolds: Int,
                                   weighted: Boolean, hasOffset: Boolean,
                                   rowsOf: org.apache.spark.sql.Column => IrlsRows)(
      body: (IrlsSetup, Array[String]) => T): T = {
    val (fam, classes, yCol) = glmResponse(df, labelCol, params.family)
    val rows = rowsOf(yCol)
    try body(new IrlsSetup(rows, fam, params, nfolds, weighted, hasOffset), classes)
    finally rows.unpersist()
  }

  /** What every binomial/poisson path reads before its first Newton
    * pass, per MODEL: model f < `nfolds` trains CV fold f's train set
    * (every row but fold f's), model `nfolds` the full data; a single
    * fit is `nfolds` = 0, one model. Construction runs one moments pass
    * and, for binomial with an offset, the null-intercept Newton passes;
    * [[pathB]] adds the full model's λ_max pass when it is read
    * ([[passes]] counts them all).
    *
    * The moments pass keeps O(p) numbers per fold (Σv·x, Σv·x², Σv·x·y,
    * Σv·y, Σv, rows and the offset sums), so setup runs at any p; the
    * Gram is the caller's: the full one per IRLS pass ([[gram]]) or the
    * one over an ever-candidate set ([[screened]]). Each model's train
    * moments are total minus its fold, with the raw weights rescaled to
    * sum to its row count (`norm`, 1.0 unweighted: moments are linear
    * in the weight, so one raw pass serves every model), then centered
    * and standardized as [[SufficientStats.standardize]] does. Null
    * intercepts: logit(ȳ) / ln(ȳ) without an offset; with one, poisson
    * takes the exposure MLE ln(Σv·y / Σv·e^off) and binomial solves
    * Σv·σ(a0 + off) = Σv·y by a Newton loop over one fold-tiled
    * scalar-pair pass per step, from logit(ȳ) − mean(off) (the root for
    * a constant offset). Every model's train set must hold positive
    * poisson counts, or both binomial classes. */
  private[ml] final class IrlsSetup(val rows: IrlsRows, val fam: IrlsFamily,
                                    val params: SgdNetParams, val nfolds: Int,
                                    val weighted: Boolean, val hasOffset: Boolean) {
    val p: Int = rows.p
    require(params.penaltyFactor == null ||
      (params.penaltyFactor.length == p && params.penaltyFactor.forall(_ >= 0)),
      "penaltyFactor must have one non-negative entry per feature")
    /** Index of the full-data model; there are `full + 1` models. */
    val full: Int = nfolds
    /** Data passes run by setup so far. */
    var passes: Int = 1
    /** Raw-weight moments of each fold (of all rows outside a CV). */
    val folds: Array[FoldMoments] = rows.moments(nfolds, offsetSums = hasOffset)
    if (nfolds > 0) CvSgdNet.requireNonEmptyFolds(folds.map(_.n).toIndexedSeq, nfolds)
    private val total = folds.foldLeft(new FoldMoments(p))(_.merge(_))
    if (weighted) require(total.n > 0, "the response (y) is empty.")
    /** Rows in the whole input. */
    val nObs: Long = total.n
    private def heldOut(f: Int): Option[FoldMoments] =
      if (f < nfolds) Some(folds(f)) else None
    /** Train rows and the weight multiplier of each model. */
    val n: Array[Double] = Array.tabulate(full + 1)(f =>
      (nObs - heldOut(f).fold(0L)(_.n)).toDouble)
    val norm: Array[Double] = Array.tabulate(full + 1)(f =>
      if (weighted) n(f) / (total.sw - heldOut(f).fold(0.0)(_.sw)) else 1.0)
    /** Model f's train sum of a moment, weights rescaled, over n(f). */
    private def trainMean(f: Int, of: FoldMoments => Double): Double = {
      val t = of(total) - heldOut(f).fold(0.0)(of)
      (if (weighted) t * norm(f) else t) / n(f)
    }
    private def trainMeans(f: Int, of: FoldMoments => Array[Double]): Array[Double] = {
      val t = of(total).clone()
      heldOut(f).foreach { h => val o = of(h); var j = 0; while (j < p) { t(j) -= o(j); j += 1 } }
      t.map(v => (if (weighted) v * norm(f) else v) / n(f))
    }
    /** Weighted train means of x and y, and the population sd of x. */
    val xMean: Array[Array[Double]] = Array.tabulate(full + 1)(trainMeans(_, _.swx))
    val yMean: Array[Double] = Array.tabulate(full + 1)(trainMean(_, _.swy))
    private val where = if (nfolds > 0) " in every train fold" else ""
    yMean.foreach { yBar =>
      if (fam == Poisson) require(yBar > 0, s"poisson response must contain positive counts$where")
      else require(yBar > 0 && yBar < 1, s"binomial response must contain both classes$where")
    }
    val xSd: Array[Array[Double]] = Array.tabulate(full + 1) { f =>
      val sq = trainMeans(f, _.swxx)
      Array.tabulate(p) { j =>
        val sd = math.sqrt(math.max(sq(j) - xMean(f)(j) * xMean(f)(j), 0.0))
        if (sd > 0) sd else 1.0
      }
    }
    val mean: Array[Array[Double]] = xMean.map(m =>
      if (params.intercept) m else new Array[Double](p))
    val scale: Array[Array[Double]] = xSd.map(s =>
      if (params.standardize) s else Array.fill(p)(1.0))
    /** Each model's standardized null covariance (1/n)<xs_j, y>, y
      * centered iff intercept. */
    val b: Array[Array[Double]] = Array.tabulate(full + 1) { f =>
      val xy = trainMeans(f, _.swxy)
      val yc = if (params.intercept) yMean(f) else 0.0
      Array.tabulate(p)(j => (xy(j) - mean(f)(j) * yMean(f) - yc * xMean(f)(j) +
        mean(f)(j) * yc) / scale(f)(j))
    }
    /** Box limits on each model's standardized scale (null = none). */
    val bounds: Array[(Array[Double], Array[Double])] =
      scale.map(s => boundsStd(params, s, 1.0))
    val a0Null: Array[Double] = {
      def trainSum(f: Int, of: FoldMoments => Double): Double =
        (of(total) - heldOut(f).fold(0.0)(of)) * norm(f)
      val a0 = Array.tabulate(full + 1) { f =>
        val yBar = yMean(f)
        if (!params.intercept) 0.0
        else if (fam == Poisson) {
          if (hasOffset) math.log(yBar * n(f) / trainSum(f, _.sExpOff))
          else math.log(yBar)
        } else if (hasOffset) math.log(yBar / (1 - yBar)) - trainSum(f, _.sOff) / n(f)
        else math.log(yBar / (1 - yBar))
      }
      if (params.intercept && fam == Binomial && hasOffset) {
        var it = 0
        var done = false
        while (it < 25 && !done) {
          val s = rows.nullNewtonSums(a0.clone(), norm)
          passes += 1
          var mx = 0.0
          for (f <- a0.indices) {
            val step = s(2 * f) / s(2 * f + 1)
            a0(f) += step
            mx = math.max(mx, math.abs(step))
          }
          it += 1
          if (mx < 1e-12) done = true
        }
      }
      a0
    }

    /** One fold-tiled IRLS pass at every active model's (β, a0): the
      * full p × p Gram, [[IrlsRows.screened]] over all p columns. */
    def gram(beta: Array[Array[Double]], a0: Array[Double],
             active: Array[Boolean]): Array[WGram] =
      rows.screened(fam, mean, scale, norm, Array.range(0, p), a0, beta, null,
        active).map(o => if (o == null) null else o._1)

    /** One IRLS pass for model `m` alone at (β, a0). */
    def gramAt(m: Int)(beta: Array[Double], a0: Double): WGram =
      gram(Array.fill(full + 1)(beta), Array.fill(full + 1)(a0),
        Array.tabulate(full + 1)(_ == m))(m)

    /** The full model's λ_max gradient: with penalty-factor zeros the
      * gradient at the unpenalized sub-fit ([[pfZeroPathGradient]]);
      * else with an offset one gradient pass at the offset null; else
      * the null covariance of the moments. */
    lazy val pathB: Array[Array[Double]] = {
      val pf = params.penaltyFactor
      if (pf != null && pf.contains(0.0))
        Array(pfZeroPathGradient(p, n(full), pf, params.intercept,
          a0Init = a0Null(full), thresh = params.thresh, maxit = params.maxit,
          gramAt = gramAt(full), userLo = bounds(full)._1, userUp = bounds(full)._2))
      else if (hasOffset) {
        passes += 1
        Array(rows.nullGradient(fam, mean(full), scale(full), a0Null(full),
          norm(full), n(full)))
      } else Array(b(full))
    }

    /** Model f's loss gradient at its null (β = 0, a0Null(f)), without a
      * pass when the null mean μ0 is constant (no offset):
      * (1/n)Σ v·norm·(y − μ0)·xs_j, which is [[b]] with an intercept. With
      * an offset only the full model's is known ([[pathB]]'s pass). */
    def nullGradient(f: Int): Array[Double] =
      if (hasOffset) {
        require(f == full, "with an offset only the full model's null gradient is computed")
        pathB(0)
      } else if (params.intercept) b(f)
      else {
        val mu0 = fam.mean(fam.clampEta(a0Null(f)))
        val x = xMean(f)
        Array.tabulate(p)(j => (b(f)(j) - mu0 * x(j) / scale(f)(j)))
      }

    /** One screened pass (see [[IrlsRows.screened]]); the KKT vectors
      * come back divided by each model's n. */
    def screened(e: Array[Int], a0: Array[Double], bE: Array[Array[Double]],
                 frozen: (Array[Double], Array[Array[Double]]),
                 active: Array[Boolean]): Array[(WGram, Array[Double])] = {
      val out = rows.screened(fam, mean, scale, norm, e, a0, bE, frozen, active)
      Array.tabulate(full + 1) { f =>
        if (out(f) == null || out(f)._2 == null) out(f)
        else (out(f)._1, out(f)._2.map(_ / n(f)))
      }
    }

    /** The λ path at `alpha`: the caller's, or built from [[pathB]]. */
    def lambdas(alpha: Double): Array[Double] =
      if (params.lambda != null) params.lambda
      else LambdaPath.build(pathB, alpha, params.nlambda,
        if (params.lambdaMinRatio.isNaN) LambdaPath.defaultMinRatio(nObs, p)
        else params.lambdaMinRatio, params.penaltyFactor)

    /** Model `f`'s standardized (β, a0) on the original scale. */
    def original(f: Int, beta: Array[Double], a0: Double): (Array[Double], Double) = {
      val b = Array.tabulate(p)(j => beta(j) / scale(f)(j))
      (b, if (params.intercept) a0 - (0 until p).map(j => b(j) * mean(f)(j)).sum else a0)
    }

    /** [[original]] for the standardized nonzero coefficients `c`. */
    def original(f: Int, c: Coefs, a0: Double): (Coefs, Double) = {
      val b = Coefs(c.idx, c.idx.indices.map(i => c.vals(i) / scale(f)(c.idx(i))).toArray)
      (b, if (params.intercept) a0 - b.idx.indices.map(i => b.vals(i) * mean(f)(b.idx(i))).sum
        else a0)
    }

    /** The full-data model of a path (ORIGINAL scale [L][1] and
      * [L][1][p] coefficients) with its deviance pass: the null
      * deviance is closed form for unweighted binomial without an
      * offset (reference families.h Binomial::NullDeviance) and rides
      * the pass as one more point (β = 0) otherwise. `npasses` is
      * `passes` plus the deviance pass. */
    def model(featureNames: Array[String], labelCol: String,
              classes: Array[String], fitParams: SgdNetParams,
              lambdas: Array[Double], a0Out: Array[Array[Double]],
              betaOut: Array[Array[Array[Double]]], passes: Int): SgdNetModel = {
      val L = lambdas.length
      val closedNull = fam == Binomial && !weighted && !hasOffset
      val a0s = a0Out.map(_(0))
      val coefs = betaOut.map(bl => Coefs.of(bl(0)))
      val devs =
        if (closedNull) rows.deviance(fam, a0s, coefs, norm(full))
        else rows.deviance(fam, a0s :+ a0Null(full),
          coefs :+ Coefs(Array.emptyIntArray, Array.emptyDoubleArray), norm(full))
      val nulldev =
        if (closedNull) {
          val yBar = yMean(full)
          val nullP = if (params.intercept) yBar else 0.5
          -2.0 * n(full) * (safeXLog(yBar, nullP) + safeXLog(1 - yBar, 1 - nullP))
        } else devs(L)
      val devRatio = Array.tabulate(L)(l => SgdNetModel.devRatio(devs(l), nulldev))
      new SgdNetModel(fam.name, featureNames, Array(labelCol), classes, lambdas,
        a0Out, betaOut, nulldev, devRatio, nObs, passes + 1, fitParams)
    }
  }

  /** Newton (IRLS) steps at one λ from (β, a0): one gram pass per step,
    * then `solve(A, c, xw, z̄, w̄, warm)` — the penalized WLS subproblem
    * on the moments divided by n — locally. At most 25 steps,
    * stopping at max|Δcoef| < max(thresh·1e-2, 1e-8). Returns the final
    * (β, a0) and the number of passes. */
  private def newtonSteps(p: Int, n: Double, thresh: Double,
      gramAt: (Array[Double], Double) => WGram, beta0: Array[Double],
      a00: Double)(solve: (Array[Array[Double]], Array[Double], Array[Double],
        Double, Double, Array[Double]) => CoordinateDescent.Result)
      : (Array[Double], Double, Int) = {
    var beta = beta0
    var a0 = a00
    var iter = 0
    var done = false
    while (iter < 25 && !done) {
      val (r, maxD) = wlsStep(gramAt(beta, a0), n, beta, a0)(solve)
      beta = r.beta; a0 = r.a0
      iter += 1
      if (maxD < math.max(thresh * 1e-2, 1e-8)) done = true
    }
    (beta, a0, iter)
  }

  /** One penalized WLS solve on gram `wg` (moments divided by `n`),
    * warm from (β, a0); returns the solution and max|Δcoef|. */
  private[ml] def wlsStep(wg: WGram, n: Double, beta: Array[Double], a0: Double)(
      solve: (Array[Array[Double]], Array[Double], Array[Double], Double,
        Double, Array[Double]) => CoordinateDescent.Result)
      : (CoordinateDescent.Result, Double) = {
    val p = beta.length
    val ninv = 1.0 / n
    val r = solve(LinAlg.unpackSym(wg.swxx, p).map(_.map(_ * ninv)),
      wg.swxz.map(_ * ninv), wg.swx.map(_ * ninv), wg.swz * ninv,
      wg.sw * ninv, beta)
    var maxD = math.abs(r.a0 - a0)
    var j = 0
    while (j < p) {
      val d = math.abs(r.beta(j) - beta(j)); if (d > maxD) maxD = d; j += 1
    }
    (r, maxD)
  }

  /** The one binomial/poisson IRLS fit, for dense and CSR rows alike:
    * one `treeAggregate` per Newton step, the penalized WLS solved
    * locally by CD (strong-rule screened at p ≥ [[ScreenMinP]],
    * exact by KKT backcheck), warm starts along the path. Every row's
    * offset enters each linear predictor and its weight folds into each
    * IRLS weight and deviance term, so standardization, the lambda path,
    * penalty factors and box limits all apply on the weighted moments
    * (see [[IrlsSetup]], the one-model case of the CV path's setup).
    * A `dfmax`/`pmax` violation stops the path and drops that point.
    * `npasses` counts the Newton passes plus the deviance pass; the
    * moments, null-intercept and λ_max passes are setup. */
  private def fitIrls(s: IrlsSetup, featureNames: Array[String],
                      labelCol: String, classes: Array[String],
                      params: SgdNetParams): SgdNetModel = {
    val p = s.p
    val n = s.n(0)
    val (loStd, upStd) = s.bounds(0)
    val lambdas = s.lambdas(params.alpha)
    val L = lambdas.length
    val a0Out = Array.ofDim[Double](L, 1)
    val betaOut = Array.ofDim[Double](L, 1, p)
    var beta = new Array[Double](p) // standardized scale
    var a0 = s.a0Null(0)
    var passes = 0
    val newtonTol = math.max(params.thresh * 1e-4, 1e-10)
    val dfGate = new DfGate(params, p)
    var cutL = L
    var l = 0
    while (l < L) {
      val lam = lambdas(l)
      val lamPrev = if (l > 0) lambdas(l - 1) else Double.NaN
      // first path point has no lamPrev to screen from
      val screen = screenGlm && params.alpha > 0 && p >= ScreenMinP && l > 0
      val (b, a, steps) = newtonSteps(p, n, params.thresh, s.gramAt(0), beta, a0) {
        (aM, c, xw, zBar, wBar, warm) =>
          if (screen)
            CoordinateDescent.solveScreened(aM, c, xw, zBar, wBar, lam, lamPrev,
              params.alpha, params.intercept, warm, thresh = newtonTol,
              maxIter = params.maxit, penaltyFactor = params.penaltyFactor,
              lower = loStd, upper = upStd)
          else CoordinateDescent.solve(aM, c, xw, zBar, wBar, lam, params.alpha,
            params.intercept, warm, thresh = newtonTol, maxIter = params.maxit,
            penaltyFactor = params.penaltyFactor, lower = loStd, upper = upStd)
      }
      beta = b; a0 = a; passes += steps
      val (bo, ao) = s.original(0, beta, a0)
      betaOut(l)(0) = bo; a0Out(l)(0) = ao
      // glmnet dfmax/pmax: drop the violating point and stop the path
      if (!dfGate.admit(j => betaOut(l)(0)(j) != 0.0)) { cutL = l; l = L }
      else l += 1
    }
    require(cutL > 0, "dfmax/pmax exclude every path point")
    s.model(featureNames, labelCol, classes, params, lambdas.take(cutL),
      a0Out.take(cutL), betaOut.take(cutL), passes)
  }

  private[ml] def safeXLog(x: Double, q: Double): Double =
    if (x <= 0) 0.0 else x * math.log(math.max(q, 1e-300))

  /** Lambda-path gradient under penaltyFactor entries of 0 for the IRLS
    * families — the glmnet semantics the gaussian path's pathB
    * projection implements (SgdNet.scala pathB): UNPENALIZED
    * coordinates are fit exactly first (the null model of the residual
    * problem), and lambda_max is the largest PENALIZED gradient there.
    * Solves the unpenalized sub-fit with the existing IRLS machinery —
    * lambda = 0 with the penalized coordinates boxed to 0 — then reads
    * the loss gradient from one fresh gram at the final coefficients:
    * w·(z − eta) = y − mu, so
    * (1/n)<xs_j, y − mu> = (swxz_j − (A·beta)_j − a0·swx_j)/n.
    * `userLo`/`userUp` are the caller's STANDARDIZED box limits (null =
    * unbounded): unpenalized coordinates keep them during the sub-fit,
    * so a binding box on a pf=0 coordinate shapes lambda_max exactly
    * like the constrained path it heads. */
  private def pfZeroPathGradient(p: Int, n: Double, pf: Array[Double],
      intercept: Boolean, a0Init: Double, thresh: Double, maxit: Int,
      gramAt: (Array[Double], Double) => WGram,
      userLo: Array[Double] = null,
      userUp: Array[Double] = null): Array[Double] = {
    val lo = Array.tabulate(p)(j =>
      if (pf(j) == 0.0) {
        if (userLo != null) userLo(j) else Double.NegativeInfinity
      } else 0.0)
    val up = Array.tabulate(p)(j =>
      if (pf(j) == 0.0) {
        if (userUp != null) userUp(j) else Double.PositiveInfinity
      } else 0.0)
    val newtonTol = math.max(thresh * 1e-4, 1e-10)
    val (beta, a0, _) = newtonSteps(p, n, thresh, gramAt, new Array[Double](p),
      a0Init) { (aM, c, xw, zBar, wBar, warm) =>
      CoordinateDescent.solve(aM, c, xw, zBar, wBar, 0.0, 1.0, intercept, warm,
        thresh = newtonTol, maxIter = maxit, lower = lo, upper = up)
    }
    val wg = gramAt(beta, a0)
    Array.tabulate(p) { j =>
      var ab = 0.0
      var k = 0
      while (k < p) { ab += wg.swxx(LinAlg.triIdx(k, j)) * beta(k); k += 1 }
      (wg.swxz(j) - ab - a0 * wg.swx(j)) / n
    }
  }

  /** Upper bound on multinomial class discovery (round 17 hardening):
    * model state is O(k·p) driver-side anyway, so a label column with
    * more distinct values than this is almost certainly mis-typed
    * (a continuous response or an id column) — fail FAST on a bounded
    * `limit(maxClasses + 1)` scan instead of collecting an unbounded
    * distinct and dying slowly in the k×p solve. */
  private[ml] val MaxMultinomialClasses = 1024

  /** Gated multinomial class discovery: distinct labels, sorted,
    * bounded by [[MaxMultinomialClasses]] (the binomial routes use the
    * same shape with `limit(3)`). */
  private[ml] def multinomialClasses(df: DataFrame,
                                     labelCol: String): Array[String] = {
    import org.apache.spark.sql.functions.col
    val cs = df.select(col(labelCol).cast("string")).distinct()
      .limit(MaxMultinomialClasses + 1).collect().map(_.getString(0)).sorted
    require(cs.length > 2,
      if (cs.length == 2) "only two classes in response. Are you looking for family = 'binomial'?"
      else "only one class in response.")
    require(cs.length <= MaxMultinomialClasses,
      s"multinomial label column '$labelCol' has more than " +
        s"$MaxMultinomialClasses distinct values — multinomial state is " +
        "O(classes × features); is the label a continuous or id column?")
    cs
  }

  /** Solve one restricted unpenalized WLS system from an accumulated
    * moment block laid out [Σw, Σwz, Σw·x_A (m), Σw·x_A·z (m),
    * packed Σw·x_A·x_A' (tri(m))] — shared by every IRLS relaxed-refit
    * site. Unbounded solves the exact normal equations (bit-identical
    * to the pre-round-17 arithmetic); with box limits (round 17 —
    * glmnet relax.glmnet refits with the ORIGINAL call's
    * lower/upper.limits) it runs CD at λ = 0 with clipped steps:
    * box-constrained WLS, exact 1-D prox per coordinate, intercept
    * unbounded. `lo`/`up` are per-ACTIVE-coordinate on the solve's
    * coordinate scale (null = unbounded); `warm` is the current
    * active-set coefficients. Returns (a0, beta_A). */
  private[ml] def solveRestrictedWls(acc: Array[Double], base: Int, m: Int,
                                     intercept: Boolean,
                                     lo: Array[Double], up: Array[Double],
                                     warm: Array[Double],
                                     maxit: Int): (Double, Array[Double]) = {
    if (lo == null && up == null) {
      val dim2 = if (intercept) m + 1 else m
      val mat = Array.ofDim[Double](dim2, dim2)
      val rhs = new Array[Double](dim2)
      if (intercept) {
        mat(0)(0) = acc(base)
        rhs(0) = acc(base + 1)
        for (q <- 0 until m) {
          mat(0)(q + 1) = acc(base + 2 + q)
          mat(q + 1)(0) = acc(base + 2 + q)
          rhs(q + 1) = acc(base + 2 + m + q)
          for (r2 <- 0 to q) {
            val v = acc(base + 2 + 2 * m + LinAlg.triIdx(r2, q))
            mat(r2 + 1)(q + 1) = v
            mat(q + 1)(r2 + 1) = v
          }
        }
      } else {
        for (q <- 0 until m) {
          rhs(q) = acc(base + 2 + m + q)
          for (r2 <- 0 to q) {
            val v = acc(base + 2 + 2 * m + LinAlg.triIdx(r2, q))
            mat(r2)(q) = v
            mat(q)(r2) = v
          }
        }
      }
      val sol = LinAlg.solve(mat, rhs)
      if (intercept) (sol(0), sol.drop(1)) else (0.0, sol)
    } else {
      val aM = Array.tabulate(m, m)((i, j) =>
        acc(base + 2 + 2 * m + LinAlg.triIdx(math.min(i, j), math.max(i, j))))
      val c = Array.tabulate(m)(q => acc(base + 2 + m + q))
      val xw = Array.tabulate(m)(q => acc(base + 2 + q))
      val r = CoordinateDescent.solve(aM, c, xw, acc(base + 1), acc(base),
        0.0, 1.0, intercept, warm, thresh = 1e-12, maxIter = maxit,
        lower = lo, upper = up)
      (r.a0, r.beta)
    }
  }

  private[ml] def requireNoZeroPf(params: SgdNetParams, where: String): Unit =
    require(params.lambda != null || params.penaltyFactor == null ||
      !params.penaltyFactor.contains(0.0),
      s"penaltyFactor entries of 0 need an explicit lambda sequence on " +
        s"the $where path (the mgaussian group and multinomial paths and " +
        "their CVs build lambda_max without the unpenalized-coordinate " +
        "projection)")

  // ----------------------------------------------------------- offset fits

  /** GLM fit with a per-row OFFSET on the linear predictor (the glmnet
    * `offset` argument): η_i = offset_i + a0 + x_i'β. For poisson with
    * log link, offset = ln(exposure) is THE standard rate model
    * (counts over unequal observation windows). Gaussian reduces
    * exactly to fitting y − offset; poisson threads the offset through
    * every IRLS pass (weights, working response, deviance, and the
    * exposure-weighted null intercept a0 = ln(Σy / Σe^offset)).
    * Predictions from the returned model are `offset + linkCol` —
    * the offset column is the caller's to supply at scoring time,
    * exactly as glmnet's `newoffset` works. */
  def fitWithOffset(df: DataFrame, featureCols: Seq[String], labelCol: String,
                    offsetCol: String,
                    params: SgdNetParams = SgdNetParams()): SgdNetModel = {
    requireGramP(featureCols.size)
    import org.apache.spark.sql.functions.col
    params.family match {
      case "gaussian" =>
        val adj = df.select((featureCols.map(col) :+
          (col(labelCol).cast("double") - col(offsetCol).cast("double"))
            .as(labelCol)): _*)
        fit(adj, featureCols, labelCol, params)
      case "binomial" | "poisson" => fitDenseGlm(df, featureCols, labelCol,
        params, offsetCol = offsetCol)
      case "multinomial" | "mgaussian" => throw new IllegalArgumentException(
        s"${params.family} takes a MATRIX offset (one column per " +
          "class/response) - use fitMultinomialWithOffset / fitMultiWithOffset")
      case f => throw new IllegalArgumentException(
        s"fitWithOffset supports gaussian, binomial, poisson, not $f")
    }
  }

  /** [[fitWithOffset]] WITH observation weights (glmnet `offset` +
    * `weights` together — the standard rate model with exposure AND
    * frequency weights, round 15): gaussian reduces to the weighted
    * fit of y − offset; poisson threads v·norm through every IRLS
    * accumulation, the exposure-weighted null (a0 =
    * ln(Σv·y / Σv·e^offset)), the lambda-path gradient, and the
    * deviance pass. Integer weights reproduce row duplication
    * (spec); w = 0 drops the observation. */
  def fitWithOffsetWeighted(df: DataFrame, featureCols: Seq[String],
                            labelCol: String, offsetCol: String,
                            weightCol: String,
                            params: SgdNetParams = SgdNetParams()): SgdNetModel = {
    requireGramP(featureCols.size)
    import org.apache.spark.sql.functions.col
    params.family match {
      case "gaussian" =>
        val adj = df.select((featureCols.map(col) :+
          (col(labelCol).cast("double") - col(offsetCol).cast("double"))
            .as(labelCol) :+ col(weightCol)): _*)
        fitWeighted(adj, featureCols, labelCol, weightCol, params)
      case "binomial" | "poisson" => fitDenseGlm(df, featureCols, labelCol,
        params, weightCol, offsetCol)
      case "multinomial" | "mgaussian" => throw new IllegalArgumentException(
        s"${params.family} takes a MATRIX offset (one column per " +
          "class/response) - use fitMultinomialWithOffset / fitMultiWithOffset")
      case f => throw new IllegalArgumentException(
        s"fitWithOffsetWeighted supports gaussian, binomial, poisson, not $f")
    }
  }

  /** Multi-response (mgaussian) fit with a per-response OFFSET matrix
    * (glmnet `offset` for family = "mgaussian" is an nobs × nresp
    * matrix; here one offset column per response, matched
    * positionally to `labelCols`). Identity link makes this EXACT by
    * delegation: fitting y_t − offset_t is the offset model itself —
    * slopes unchanged vs the no-offset fit of the adjusted responses,
    * intercepts already on the offset scale. `weightCol` non-null
    * routes through the weighted multi-response moments. The
    * reference leaves offset as a TODO (R/sgdnet.R:341); glmnet
    * semantics implemented. */
  def fitMultiWithOffset(df: DataFrame, featureCols: Seq[String],
                         labelCols: Seq[String], offsetCols: Seq[String],
                         params: SgdNetParams,
                         weightCol: String = null): SgdNetModel = {
    requireGramP(featureCols.size)
    import org.apache.spark.sql.functions.col
    require(params.family == "mgaussian" || params.family == "gaussian",
      s"fitMultiWithOffset is the identity-link (gaussian/mgaussian) route, not ${params.family}")
    require(offsetCols.size == labelCols.size,
      s"need one offset column per response (${labelCols.size}), got ${offsetCols.size}")
    val adjusted = labelCols.zip(offsetCols).map { case (l, o) =>
      (col(l).cast("double") - col(o).cast("double")).as(l)
    }
    if (weightCol == null) {
      val adj = df.select((featureCols.map(col) ++ adjusted): _*)
      fitMulti(adj, featureCols, labelCols, params)
    } else {
      val adj = df.select((featureCols.map(col) ++ adjusted :+ col(weightCol)): _*)
      fitWeightedMulti(adj, featureCols, labelCols, weightCol, params)
    }
  }

  // ------------------------------------------------------------- multinomial

  private def fitMultinomial(df: DataFrame, featureCols: Seq[String],
                             labelCol: String, params: SgdNetParams): SgdNetModel = {
    import org.apache.spark.sql.functions.col
    val p = featureCols.size
    val classes = multinomialClasses(df, labelCol)
    val k = classes.length
    val classIdx = classes.zipWithIndex.toMap

    val rows = df.selectExpr(
        (featureCols.map(c => s"cast(`$c` as double)") :+ s"cast(`$labelCol` as string)"): _*)
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
      fitMultinomialImpl(onehot, featureCols, labelCol, classes, params)
    } finally rows.unpersist(blocking = false)
  }

  private def fitMultinomialImpl(rows: RDD[(Array[Double], Array[Double])],
                                 featureCols: Seq[String], labelCol: String,
                                 classes: Array[String], params: SgdNetParams): SgdNetModel = {
    val p = featureCols.size
    val k = classes.length
    val g = SufficientStats.compute(rows, p, k)
    fitMultinomialCore(g, featureCols.toArray, labelCol, classes, params,
      gradFn = (mean, scale, yB, yA) => softmaxGrad(rows, mean, scale, yB, yA, k),
      devFn = (a0Out, betaOut) => multinomDeviance(rows, a0Out, betaOut, k))
  }

  /** WEIGHTED multinomial fit (glmnet `weights` with
    * family = "multinomial", round 15 — closes the last documented
    * weighted-family reject): frequency weights v (normalized to sum
    * to n over the kept rows, the glmnet convention) multiply every
    * per-row softmax-gradient contribution (grad = Σ vn·(p−y)·xs / n)
    * and every deviance term; the weighted GramStats drive
    * standardization, the lambda path, and the Lipschitz step, so
    * integer weights reproduce row duplication exactly (spec) through
    * the SAME FISTA core as the unweighted fit — grouped and ungrouped
    * penalties, penalty factors, and box limits included. The deviance
    * pass reuses [[multinomDeviance]] on v-SCALED one-hot labels
    * (deviance is linear in y, so scaling the one-hot weights it
    * exactly); w = 0 drops the observation. */
  private def fitWeightedMultinomial(df: DataFrame, featureCols: Seq[String],
                                     labelCol: String, weightCol: String,
                                     params: SgdNetParams): SgdNetModel = {
    import org.apache.spark.sql.functions.col
    val p = featureCols.size
    val classes = multinomialClasses(df, labelCol)
    val k = classes.length
    val classIdx = classes.zipWithIndex.toMap
    val raw = df.select((featureCols.map(c => col(c).cast("double")) :+
        col(labelCol).cast("string") :+ col(weightCol).cast("double")): _*)
      .rdd.map { row =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = row.getDouble(j); j += 1 }
        (x, row.getString(p), row.getDouble(p + 1))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (nRows, wSum) = raw.treeAggregate((0L, 0.0))(
        seqOp = (s, r) => {
          require(r._3 >= 0, "weights must be non-negative")
          if (r._3 > 0) (s._1 + 1, s._2 + r._3) else s
        },
        combOp = (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
      require(nRows > 0, "the response (y) is empty.")
      val norm = nRows.toDouble / wSum
      val idx = raw.sparkContext.broadcast(classIdx)
      val rows = raw.filter(_._3 > 0).map { case (x, c, v) =>
        val y = new Array[Double](k); y(idx.value(c)) = 1.0
        (x, y, v * norm)
      }
      val g = rows.treeAggregate(new GramStats(p, k))(
        seqOp = (s, r) => s.addWeighted(r._1, r._2, r._3),
        combOp = (a, b) => a.merge(b), depth = 2)
      fitMultinomialCore(g, featureCols.toArray, labelCol, classes, params,
        gradFn = (mean, scale, yB, yA) =>
          softmaxGradWeighted(rows, mean, scale, yB, yA, k),
        devFn = (a0Out, betaOut) => multinomDeviance(
          rows.map(r => (r._1, r._2.map(_ * r._3))), a0Out, betaOut, k))
    } finally { raw.unpersist(blocking = false); () }
  }

  /** Multinomial fit with a per-class linear-predictor OFFSET (round
    * 16 — glmnet `offset` for family = "multinomial" is an
    * nobs × nclass matrix; here one offset column per class, matched
    * positionally to the SORTED class labels, the model's
    * `classLabels` order). eta_it = offset_it + a0_t + x_i·β_t through
    * the SAME FISTA core as the plain fit. The pieces the offset
    * changes are supplied to the core explicitly:
    *
    *  - the NULL intercepts (no closed form once offsets vary): a
    *    damped-Newton driver loop on the k-vector a0 — each iteration
    *    ONE treeAggregate yielding the k-gradient, the k×k softmax
    *    Hessian and the log-likelihood; the k×k solve is driver-side.
    *    The start ln(prior_t) − mean(offset_t) is already exact for
    *    constant offsets (gradient 0 → zero Newton steps), mirroring
    *    the binomial offset null. The softmax flat direction (adding a
    *    constant to every a0) is handled by a 1e-9 ridge on H.
    *  - the lambda path: offset-corrected null gradient
    *    b_tj = (1/n)Σ vn·(y_it − p_it)·xs_ij at the offset null.
    *  - nulldev: −2·Σ vn·log p_null(y_i) at the offset null.
    *
    * `weightCol` non-null folds frequency weights v (sum-to-n
    * normalized, w = 0 drops the row) into every accumulation.
    * The reference leaves offset as a TODO (R/sgdnet.R:341); glmnet
    * semantics implemented. */
  def fitMultinomialWithOffset(df: DataFrame, featureCols: Seq[String],
                               labelCol: String, offsetCols: Seq[String],
                               params: SgdNetParams,
                               weightCol: String = null): SgdNetModel = {
    requireGramP(featureCols.size)
    import org.apache.spark.sql.functions.{col, lit}
    require(params.family == "multinomial",
      s"fitMultinomialWithOffset is the multinomial route, not ${params.family}")
    val p = featureCols.size
    val classes = multinomialClasses(df, labelCol)
    val k = classes.length
    require(offsetCols.size == k,
      s"multinomial offset needs one column per class (nclass = $k, " +
        s"sorted-label order), got ${offsetCols.size}")
    val classIdx = classes.zipWithIndex.toMap
    val wCol = if (weightCol == null) lit(1.0) else col(weightCol).cast("double")
    val raw = df.select((featureCols.map(c => col(c).cast("double")) ++
        offsetCols.map(c => col(c).cast("double")) :+
        col(labelCol).cast("string") :+ wCol): _*)
      .rdd.map { row =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = row.getDouble(j); j += 1 }
        val off = new Array[Double](k)
        var t = 0
        while (t < k) { off(t) = row.getDouble(p + t); t += 1 }
        (x, off, row.getString(p + k), row.getDouble(p + k + 1))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // kept-row count, weight mass, per-class weighted offset means
      val (nRows, wSum, offSum) = raw.treeAggregate((0L, 0.0, new Array[Double](k)))(
        seqOp = (s, r) => {
          require(r._4 >= 0, "weights must be non-negative")
          if (r._4 > 0) {
            var t = 0
            while (t < k) { s._3(t) += r._4 * r._2(t); t += 1 }
            (s._1 + 1, s._2 + r._4, s._3)
          } else s
        },
        combOp = (a, b) => {
          var t = 0
          while (t < k) { a._3(t) += b._3(t); t += 1 }
          (a._1 + b._1, a._2 + b._2, a._3)
        }, depth = 2)
      require(nRows > 0, "the response (y) is empty.")
      val norm = nRows.toDouble / wSum
      val idx = raw.sparkContext.broadcast(classIdx)
      val rows = raw.filter(_._4 > 0).map { case (x, off, c, v) =>
        val y = new Array[Double](k); y(idx.value(c)) = 1.0
        (x, y, off, v * norm)
      }
      var passes = 1
      val g = rows.treeAggregate(new GramStats(p, k))(
        seqOp = (s, r) => s.addWeighted(r._1, r._2, r._4),
        combOp = (a, b) => a.merge(b), depth = 2)
      passes += 1
      val st = SufficientStats.standardize(g, params.standardize, params.intercept)
      val mean = if (params.intercept) st.xMean else new Array[Double](p)
      val scale = if (params.standardize) st.xSd else Array.fill(p)(1.0)
      val n = g.n.toDouble

      // offset null intercepts: damped Newton from the mean-offset-
      // shifted log-priors (exact for constant offsets)
      val a0n = if (params.intercept)
        Array.tabulate(k)(t =>
          math.log(math.max(st.yMean(t), 1e-12)) - offSum(t) / wSum)
        else new Array[Double](k)
      val (nulldev, nullPasses) = multinomOffsetNull(
        rows.map(r => (r._2, r._3, r._4)), a0n, k, params.intercept, n)
      passes += nullPasses

      // offset-corrected null gradient for the lambda path (skipped
      // when the caller supplies the lambda sequence — it only feeds
      // the data-derived path)
      val nullB = if (params.lambda != null) null else {
        val (g0, _) = softmaxGradOffset(rows, mean, scale,
          Array.ofDim[Double](k, p), a0n, k)
        passes += 1
        g0.map(_.map(v => -v))
      }

      fitMultinomialCore(g, featureCols.toArray, labelCol, classes, params,
        gradFn = (m, s, yB, yA) => softmaxGradOffset(rows, m, s, yB, yA, k),
        devFn = (a0Out, betaOut) =>
          multinomOffsetDeviance(rows, a0Out, betaOut, k),
        nullA0 = a0n, nullB = nullB, nulldevOverride = nulldev,
        passes0 = passes)
    } finally { raw.unpersist(blocking = false); () }
  }

  /** [[relaxedFitGlm]] over CSR feature rows (round 16 — glmnet
    * relax = TRUE with a dgCMatrix x and family binomial | poisson):
    * the penalized path from [[fitSparse]], then the lambda-tiled
    * unpenalized active-set IRLS refits with SPARSE restricted-moment
    * accumulation — a row contributes only its nonzeros that fall in
    * each live lambda's active set (position lookup via a broadcast
    * per-cell index map), so per-row cost is O(Σ_live |nnz ∩ A_l|²)
    * and the matrix is never densified. Same convergence and
    * empty-active-set semantics as the dense route. */
  def relaxedFitGlmSparse(df: DataFrame, idxCol: String, valCol: String,
                          dim: Int, labelCol: String,
                          params: SgdNetParams,
                          gamma: Double = 1.0,
                          weightCol: String = null,
                          offsetCol: String = null): RelaxedPath = {
    requireGramP(dim)
    import org.apache.spark.sql.functions.{col, lit}
    require(params.family == "binomial" || params.family == "poisson",
      s"relaxedFitGlmSparse is the IRLS-family route (binomial|poisson), not ${params.family}")
    require(gamma >= 0 && gamma <= 1, "gamma must be in [0, 1]")
    val binomial = params.family == "binomial"
    val weighted = weightCol != null
    val hasOffset = offsetCol != null
    val model =
      if (hasOffset)
        fitSparseWithOffset(df, idxCol, valCol, dim, labelCol, offsetCol,
          params, weightCol)
      else if (weighted)
        fitSparseWeighted(df, idxCol, valCol, dim, labelCol, weightCol, params)
      else fitSparse(df, idxCol, valCol, dim, labelCol, params)
    val p = dim
    val yExpr = glmLabel(model, labelCol)
    val wExpr = if (weighted) col(weightCol).cast("double") else lit(1.0)
    val oExpr = if (hasOffset) col(offsetCol).cast("double") else lit(0.0)
    val rows0 = df.select(col(idxCol), col(valCol).cast("array<double>"),
        yExpr, wExpr, oExpr)
      .rdd.map { r =>
        (r.getSeq[Int](0).toArray, r.getSeq[Double](1).toArray,
          r.getDouble(2), r.getDouble(3), r.getDouble(4))
      }
    val rows = (if (weighted)
        rows0.map { t => require(t._4 >= 0, "weights must be non-negative"); t }
          .filter(_._4 > 0)
      else rows0).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val L = model.lambda.length
      val active: Array[Array[Int]] =
        model.beta.map(bl => (0 until p).filter(j => bl(0)(j) != 0.0).toArray)
      val a0R = Array.tabulate(L)(l => model.a0(l)(0))
      val bR = Array.tabulate(L)(l => model.beta(l)(0).clone())
      val done = new Array[Boolean](L)
      if (active.exists(_.isEmpty)) {
        val a0Null =
          if (!params.intercept) 0.0
          else if (!hasOffset) {
            val (sy, n) = rows.treeAggregate((0.0, 0.0))(
              (s, r) => (s._1 + r._4 * r._3, s._2 + r._4),
              (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
            val ybar = sy / n
            if (binomial) math.log(ybar / (1 - ybar)) else math.log(ybar)
          } else if (!binomial) {
            val (sy, se) = rows.treeAggregate((0.0, 0.0))(
              (s, r) => (s._1 + r._4 * r._3, s._2 + r._4 * math.exp(
                math.max(math.min(r._5, 30.0), -30.0))),
              (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
            math.log(sy / se)
          } else {
            val (sy, sv, so) = rows.treeAggregate((0.0, 0.0, 0.0))(
              (s, r) => (s._1 + r._4 * r._3, s._2 + r._4, s._3 + r._4 * r._5),
              (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3), depth = 2)
            val ybar = sy / sv
            var a0n = math.log(ybar / (1 - ybar)) - so / sv
            var it = 0
            var doneN = false
            while (!doneN && it < 50) {
              val (g, h) = rows.treeAggregate((0.0, 0.0))(
                (s, r) => {
                  val mu = 1.0 / (1.0 + math.exp(-(a0n + r._5)))
                  (s._1 + r._4 * (mu - r._3), s._2 + r._4 * mu * (1.0 - mu))
                },
                (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
              if (math.abs(g / sv) < 1e-12 || h <= 0) doneN = true
              else { a0n -= g / h; it += 1 }
            }
            a0n
          }
        for (l <- 0 until L if active(l).isEmpty) {
          a0R(l) = a0Null
          java.util.Arrays.fill(bR(l), 0.0)
          done(l) = true
        }
      }
      val sc = rows.sparkContext
      val tol = math.max(params.thresh * 1e-2, 1e-8)
      var iter = 0
      while (iter < 25 && !done.forall(identity)) {
        val live = (0 until L).filter(!done(_)).toArray
        val sizes = live.map(l => 2 + 2 * active(l).length +
          LinAlg.triSize(active(l).length))
        val offs = sizes.scanLeft(0)(_ + _)
        // per-cell feature→slot map (-1 = inactive) for O(1) lookup
        // while walking a row's nonzeros
        val posOf = live.map { l =>
          val m = Array.fill(p)(-1)
          active(l).zipWithIndex.foreach { case (j, q) => m(j) = q }
          m
        }
        val bState = sc.broadcast((live, live.map(active(_)), posOf,
          live.map(a0R(_)), live.map(bR(_)), offs))
        val acc = rows.treeAggregate(new Array[Double](offs.last))(
          (s, row) => {
            val (idx, vals, y, v, off) = row
            val (lv, acts, pos, a0s, bs, os) = bState.value
            var i = 0
            while (i < lv.length) {
              val a = acts(i)
              val m = a.length
              val pm = pos(i)
              // eta over the row's nonzeros in this cell's active set
              var eta = a0s(i) + off
              var t = 0
              while (t < idx.length) {
                if (pm(idx(t)) >= 0) eta += bs(i)(idx(t)) * vals(t)
                t += 1
              }
              var w = 0.0
              var z = 0.0
              if (binomial) {
                val mu = 1.0 / (1.0 + math.exp(-eta))
                w = math.max(mu * (1.0 - mu), 1e-5)
                z = eta + (y - mu) / w - off
              } else {
                val etaC = math.max(math.min(eta, 30.0), -30.0)
                val mu = math.exp(etaC)
                w = math.max(mu, 1e-5)
                z = etaC + (y - mu) / w - off
              }
              w *= v
              val base = os(i)
              s(base) += w
              s(base + 1) += w * z
              t = 0
              while (t < idx.length) {
                val q = pm(idx(t))
                if (q >= 0) {
                  val wx = w * vals(t)
                  s(base + 2 + q) += wx
                  s(base + 2 + m + q) += wx * z
                  var u = 0
                  while (u <= t) {
                    val r2 = pm(idx(u))
                    if (r2 >= 0) {
                      val lo = math.min(q, r2); val hi = math.max(q, r2)
                      s(base + 2 + 2 * m + LinAlg.triIdx(lo, hi)) +=
                        (if (u == t) wx * vals(t) else wx * vals(u))
                    }
                    u += 1
                  }
                }
                t += 1
              }
              i += 1
            }
            s
          },
          (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
          depth = 2)
        for (i <- live.indices) {
          val l = live(i)
          val a = active(l)
          val m = a.length
          val base = offs(i)
          val loA = if (params.lowerLimits == null) null
            else a.map(params.lowerLimits(_))
          val upA = if (params.upperLimits == null) null
            else a.map(params.upperLimits(_))
          val (na0, sol) = solveRestrictedWls(acc, base, m,
            params.intercept, loA, upA, a.map(bR(l)(_)), params.maxit)
          var maxD = math.abs(na0 - a0R(l))
          for (q <- 0 until m) {
            val d = math.abs(sol(q) - bR(l)(a(q)))
            if (d > maxD) maxD = d
          }
          a0R(l) = na0
          for (q <- 0 until m) bR(l)(a(q)) = sol(q)
          if (maxD < tol) done(l) = true
        }
        iter += 1
      }
      RelaxedPath(model, a0R, bR, gamma)
    } finally { rows.unpersist(blocking = false); () }
  }

  /** Intercept-only softmax null WITH per-row per-class offsets:
    * damped Newton on the k-vector a0 (updated IN PLACE) — each step
    * is ONE treeAggregate over (one-hot y, offset, weight) rows
    * yielding the k-gradient, the k×k softmax Hessian and the
    * log-likelihood; the k×k solve is driver-side with a 1e-9 ridge
    * for the softmax flat direction (adding a constant to every a0).
    * Shared by the dense and SPARSE multinomial offset fits (x never
    * enters the null). Returns (nulldev at the final a0, passes). */
  private def multinomOffsetNull(
      rows: RDD[(Array[Double], Array[Double], Double)],
      a0n: Array[Double], k: Int, intercept: Boolean,
      n: Double): (Double, Int) = {
    var nulldev = Double.NaN
    var passes = 0
    var it = 0
    var done = false
    while (!done) {
      // one pass: k-gradient, k×k Hessian, log-likelihood at a0n
      val acc = rows.treeAggregate(new Array[Double](k + k * k + 1))(
        seqOp = (s, r) => {
          val (y, off, vn) = r
          val pr = new Array[Double](k)
          var mx = Double.NegativeInfinity
          var t = 0
          while (t < k) {
            pr(t) = a0n(t) + off(t); if (pr(t) > mx) mx = pr(t); t += 1
          }
          var z = 0.0
          t = 0
          while (t < k) { pr(t) = math.exp(pr(t) - mx); z += pr(t); t += 1 }
          val logZ = mx + math.log(z)
          t = 0
          while (t < k) {
            pr(t) /= z
            s(t) += vn * (pr(t) - y(t))
            s(k + k * k) += vn * y(t) * (a0n(t) + off(t) - logZ)
            var u = 0
            while (u < k) {
              s(k + t * k + u) += vn *
                (if (t == u) pr(t) * (1.0 - pr(t)) else -pr(t) * pr(u))
              u += 1
            }
            t += 1
          }
          s
        },
        combOp = (a, b) => {
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
        }, depth = 2)
      passes += 1
      nulldev = -2.0 * acc(k + k * k)
      if (!intercept) done = true
      else {
        val gvec = Array.tabulate(k)(t => acc(t) / n)
        val gInf = gvec.map(math.abs).max
        if (gInf < 1e-12 || it >= 50) done = true
        else {
          val h = Array.tabulate(k, k)((i2, j2) =>
            acc(k + i2 * k + j2) / n + (if (i2 == j2) 1e-9 else 0.0))
          val d = LinAlg.solve(h, gvec)
          var t = 0
          while (t < k) { a0n(t) -= d(t); t += 1 }
          it += 1
        }
      }
    }
    (nulldev, passes)
  }

  /** [[softmaxGradWeighted]] with a per-row per-class offset in the
    * linear predictor: eta_t = a0_t + off_t + β_t·xs. */
  private def softmaxGradOffset(
      rows: RDD[(Array[Double], Array[Double], Array[Double], Double)],
      mean: Array[Double], scale: Array[Double],
      beta: Array[Array[Double]], a0: Array[Double],
      k: Int): (Array[Array[Double]], Array[Double]) = {
    val p = mean.length
    val acc = rows.treeAggregate(new Array[Double](k * (p + 1) + 1))(
      seqOp = (s, xyov) => {
        val (xr, y, off, vn) = xyov
        val xs = new Array[Double](p)
        var j = 0
        while (j < p) { xs(j) = (xr(j) - mean(j)) / scale(j); j += 1 }
        val eta = new Array[Double](k)
        var mx = Double.NegativeInfinity
        var t = 0
        while (t < k) {
          var e = a0(t) + off(t)
          j = 0
          while (j < p) { e += beta(t)(j) * xs(j); j += 1 }
          eta(t) = e; if (e > mx) mx = e
          t += 1
        }
        var z = 0.0
        t = 0
        while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
        t = 0
        while (t < k) {
          val r = vn * (eta(t) / z - y(t))   // vn·(P_t - Y_t)
          s(t * (p + 1)) += r
          j = 0
          while (j < p) { s(t * (p + 1) + 1 + j) += r * xs(j); j += 1 }
          t += 1
        }
        s(k * (p + 1)) += vn
        s
      },
      combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
      depth = 2)
    val n = acc(k * (p + 1))
    val grad = Array.tabulate(k, p)((t, j) => acc(t * (p + 1) + 1 + j) / n)
    val gradA0 = Array.tabulate(k)(t => acc(t * (p + 1)) / n)
    (grad, gradA0)
  }

  /** [[multinomDeviance]] with per-row per-class offsets and frequency
    * weights: −2 Σ vn·y_t·(eta_t − logZ) with eta = a0 + off + βx. */
  private def multinomOffsetDeviance(
      rows: RDD[(Array[Double], Array[Double], Array[Double], Double)],
      a0: Array[Array[Double]], beta: Array[Array[Array[Double]]],
      k: Int): Array[Double] = {
    val L = a0.length
    rows.treeAggregate(new Array[Double](L))(
      seqOp = (acc, xyov) => {
        val (x, y, off, vn) = xyov
        val p = x.length
        var l = 0
        while (l < L) {
          val eta = new Array[Double](k)
          var mx = Double.NegativeInfinity
          var t = 0
          while (t < k) {
            var e = a0(l)(t) + off(t)
            var j = 0
            while (j < p) { e += beta(l)(t)(j) * x(j); j += 1 }
            eta(t) = e; if (e > mx) mx = e
            t += 1
          }
          var z = 0.0
          t = 0
          while (t < k) { z += math.exp(eta(t) - mx); t += 1 }
          val logZ = mx + math.log(z)
          t = 0
          var ll = 0.0
          while (t < k) { ll += y(t) * (eta(t) - logZ); t += 1 }
          acc(l) += -2.0 * vn * ll
          l += 1
        }
        acc
      },
      combOp = (a, b) => { var i = 0; while (i < L) { a(i) += b(i); i += 1 }; a },
      depth = 2)
  }

  /** Driver-side FISTA over cluster gradient passes — shared by the dense
    * and sparse multinomial paths (only the per-pass gradient and the
    * final deviance scan differ by row representation). The OFFSET
    * route (round 16) supplies its own null point: `nullA0` (the
    * offset-null intercepts replacing ln(prior)), `nullB` (the
    * offset-corrected null gradient driving the lambda path) and
    * `nulldevOverride` (deviance of the offset null model) — all three
    * default to the plain closed forms; `passes0` counts the caller's
    * own pre-core cluster scans into npasses. */
  private def fitMultinomialCore(
      g: GramStats, featureNames: Array[String], labelCol: String,
      classes: Array[String], params: SgdNetParams,
      gradFn: (Array[Double], Array[Double], Array[Array[Double]], Array[Double]) =>
        (Array[Array[Double]], Array[Double]),
      devFn: (Array[Array[Double]], Array[Array[Array[Double]]]) => Array[Double],
      nullA0: Array[Double] = null,
      nullB: Array[Array[Double]] = null,
      nulldevOverride: Double = Double.NaN,
      passes0: Int = 0)
      : SgdNetModel = {
    val st = SufficientStats.standardize(g, params.standardize, params.intercept)
    // Lipschitz bound for softmax cross-entropy on standardized X:
    // L <= 0.5 * lambda_max(Gram)
    val lip = 0.5 * LinAlg.maxEig(st.gram) + 1e-9
    fitMultinomialCoreSt(st, g.n, lip, featureNames, labelCol, classes,
      params, gradFn, devFn, nullA0, nullB, nulldevOverride, passes0)
  }

  /** [[fitMultinomialCore]] from PRE-STANDARDIZED stats and a caller-
    * supplied Lipschitz constant — the Gram matrix itself is consumed
    * ONLY for the Lipschitz bound, so the large-p multinomial route
    * (`LargeP.fitMultinomial`: O(p·k) moments + a distributed power
    * iteration for L) runs the IDENTICAL FISTA core without ever
    * materializing p². `st.gram` may be null here. */
  private[ml] def fitMultinomialCoreSt(
      st: StdStats, nRows: Long, lip: Double,
      featureNames: Array[String], labelCol: String,
      classes: Array[String], params: SgdNetParams,
      gradFn: (Array[Double], Array[Double], Array[Array[Double]], Array[Double]) =>
        (Array[Array[Double]], Array[Double]),
      devFn: (Array[Array[Double]], Array[Array[Array[Double]]]) => Array[Double],
      nullA0: Array[Double] = null,
      nullB: Array[Array[Double]] = null,
      nulldevOverride: Double = Double.NaN,
      passes0: Int = 0)
      : SgdNetModel = {
    val p = featureNames.length
    val k = classes.length
    val n = nRows.toDouble

    // glmnet penalty.factor for multinomial: per-FEATURE multiplier on
    // both penalty terms (every class coefficient of feature j scales
    // by pf_j — ungrouped entrywise and grouped group-prox alike).
    // pf == 0 needs an explicit lambda (the unpenalized-coordinate
    // lambda_max projection is single-response only).
    val pf = params.penaltyFactor
    require(pf == null || (pf.length == p && pf.forall(_ >= 0)),
      "penaltyFactor must have one non-negative entry per feature")
    requireNoZeroPf(params, "multinomial")
    // glmnet lower/upper.limits: per-feature bounds applied to EVERY
    // class coefficient. Ungrouped: the entrywise clipped
    // soft-threshold is the exact box+l1 prox. Grouped (round 16): the
    // box-constrained group prox solves by group-norm bisection
    // (LinAlg.boxedGroupProx) — the closed form the reject used to
    // cite as missing.

    val minRatio = if (params.lambdaMinRatio.isNaN)
      LambdaPath.defaultMinRatio(nRows, p) else params.lambdaMinRatio
    // gradient at null: (1/n)<xs_j, y_t - pbar_t>; with xs centered this is b
    val bSrc = if (nullB != null) nullB else st.b
    val lambdas = if (params.lambda != null) params.lambda
      else {
        // ungrouped: lambda_max = max |b_tj| / pf_j (pf tiled per class
        // to match the flattened t-major layout); grouped:
        // max_j ||b_.j||_2 / pf_j
        val bArg = if (params.typeMultinomial == "grouped") bSrc
          else Array(bSrc.flatten)
        val pfArg = if (pf == null) null
          else if (params.typeMultinomial == "grouped") pf
          else Array.tabulate(k * p)(i => pf(i % p))
        LambdaPath.build(bArg, params.alpha, params.nlambda, minRatio, pfArg)
      }

    val mean = if (params.intercept) st.xMean else new Array[Double](p)
    val scale = if (params.standardize) st.xSd else Array.fill(p)(1.0)
    val (loStd, upStd) = boundsStd(params, scale, 1.0)
    val priors = st.yMean // class proportions

    val L = lambdas.length
    val a0Out = Array.ofDim[Double](L, k)
    val betaOut = Array.ofDim[Double](L, k, p)
    var beta = Array.ofDim[Double](k, p)
    var a0 = if (nullA0 != null) nullA0.clone()
      else Array.tabulate(k)(t => if (params.intercept)
        math.log(math.max(priors(t), 1e-12)) else 0.0)
    var passes = passes0

    val dfGate = new DfGate(params, p)
    var cutL = L
    var l = 0
    while (l < L) {
      val lam = lambdas(l)
      val step = 1.0 / lip
      var iter = 0
      var done = false
      // FISTA state
      var yB = beta.map(_.clone()); var yA = a0.clone(); var tk = 1.0
      // honor the user's maxit exactly — no hidden iteration clamp (the
      // model's npasses surfaces how many gradient passes were spent;
      // each pass is one distributed scan, so a non-converging fit can
      // spend up to maxit scans PER LAMBDA — tune maxit/thresh, the
      // engine will not silently truncate)
      while (iter < params.maxit && !done) {
        val (grad, gradA0) = gradFn(mean, scale, yB, yA)
        passes += 1
        val nb = Array.ofDim[Double](k, p)
        val na = new Array[Double](k)
        var maxD = 0.0
        val grouped = params.typeMultinomial == "grouped"
        for (t <- 0 until k) {
          na(t) = if (params.intercept) yA(t) - step * gradA0(t) else 0.0
          val d0 = math.abs(na(t) - a0(t)); if (d0 > maxD) maxD = d0
        }
        for (j <- 0 until p) {
          val pfj = if (pf == null) 1.0 else pf(j)
          if (grouped) {
            // group soft-threshold across classes: the l1/l2 mixed norm
            // prox (fills the reference's own TODO for grouped multinomial)
            var nrm = 0.0
            val v = Array.tabulate(k)(t => yB(t)(j) - step * grad(t)(j))
            v.foreach(x => nrm += x * x)
            nrm = math.sqrt(nrm)
            val g = step * lam * params.alpha * pfj
            if (loStd != null || upStd != null) {
              // boxed group prox (round 16): ½‖x−v‖² + g‖x‖ + (h/2)‖x‖²
              // + box ≡ (q/2)‖x‖² − v·x + g‖x‖ + box with q = 1 + h
              val q = 1.0 + step * lam * (1.0 - params.alpha) * pfj
              val loJ = Array.fill(k)(
                if (loStd == null) Double.NegativeInfinity else loStd(j))
              val upJ = Array.fill(k)(
                if (upStd == null) Double.PositiveInfinity else upStd(j))
              val u = LinAlg.boxedGroupProx(v, q, g, loJ, upJ,
                new Array[Double](k))
              for (t <- 0 until k) {
                nb(t)(j) = u(t)
                val d = math.abs(nb(t)(j) - beta(t)(j)); if (d > maxD) maxD = d
              }
            } else {
              val shrink =
                if (nrm > g)
                  (1.0 - g / nrm) /
                    (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                else 0.0
              for (t <- 0 until k) {
                nb(t)(j) = v(t) * shrink
                val d = math.abs(nb(t)(j) - beta(t)(j)); if (d > maxD) maxD = d
              }
            }
          } else {
            for (t <- 0 until k) {
              val v = yB(t)(j) - step * grad(t)(j)
              var x = LinAlg.softThreshold(v, step * lam * params.alpha * pfj) /
                (1.0 + step * lam * (1.0 - params.alpha) * pfj)
              // 1-D box clip IS the exact prox of l1+l2+box when
              // 0 ∈ [lo_j, up_j] (enforced by boundsStd)
              if (loStd != null && x < loStd(j)) x = loStd(j)
              if (upStd != null && x > upStd(j)) x = upStd(j)
              nb(t)(j) = x
              val d = math.abs(nb(t)(j) - beta(t)(j)); if (d > maxD) maxD = d
            }
          }
        }
        // gradient-based adaptive restart (O'Donoghue & Candès): when the
        // momentum direction opposes the gradient step, reset it —
        // typically 2-5x fewer gradient passes, each of which is a
        // cluster scan here
        var restartDot = 0.0
        for (t <- 0 until k; j <- 0 until p)
          restartDot += grad(t)(j) * (nb(t)(j) - beta(t)(j))
        for (t <- 0 until k) restartDot += gradA0(t) * (na(t) - a0(t))
        val tk1 = if (restartDot > 0) 1.0
          else (1.0 + math.sqrt(1.0 + 4.0 * tk * tk)) / 2.0
        val mom = if (restartDot > 0) 0.0 else (tk - 1.0) / tk1
        for (t <- 0 until k; j <- 0 until p)
          yB(t)(j) = nb(t)(j) + mom * (nb(t)(j) - beta(t)(j))
        for (t <- 0 until k) yA(t) = na(t) + mom * (na(t) - a0(t))
        beta = nb; a0 = na; tk = tk1
        iter += 1
        if (maxD < math.max(params.thresh * 1e-3, 1e-8)) done = true
      }
      // glmnet dfmax/pmax: a feature counts if ANY class uses it
      if (!dfGate.admit(j => (0 until k).exists(t => beta(t)(j) != 0.0))) {
        cutL = l
        l = L
      } else {
        for (t <- 0 until k; j <- 0 until p) betaOut(l)(t)(j) = beta(t)(j) / scale(j)
        for (t <- 0 until k)
          a0Out(l)(t) = if (params.intercept)
            a0(t) - (0 until p).map(j => betaOut(l)(t)(j) * mean(j)).sum else 0.0
        l += 1
      }
    }
    require(cutL > 0, "dfmax/pmax exclude every path point")
    val lambdasT = lambdas.take(cutL)
    val a0OutT = a0Out.take(cutL)
    val betaOutT = betaOut.take(cutL)

    // null deviance: 2 * sum_i -log(prior_{y_i}) (reference families.h:263);
    // the offset route pre-computes it at the offset null instead
    val nulldev = if (!nulldevOverride.isNaN) nulldevOverride
      else -2.0 * n * priors.map(pr => safeXLog(pr, pr)).sum
    val devs = devFn(a0OutT, betaOutT)
    passes += 1
    val devRatio = devs.map(d => SgdNetModel.devRatio(d, nulldev))

    new SgdNetModel("multinomial", featureNames, Array(labelCol),
      classes, lambdasT, a0OutT, betaOutT, nulldev, devRatio, nRows, passes, params)
  }

  private[ml] def softmaxGrad(rows: RDD[(Array[Double], Array[Double])],
                          mean: Array[Double], scale: Array[Double],
                          beta: Array[Array[Double]], a0: Array[Double],
                          k: Int): (Array[Array[Double]], Array[Double]) = {
    val p = mean.length
    // accumulator: [k*(p+1)] gradient sums
    val acc = rows.treeAggregate(new Array[Double](k * (p + 1) + 1))(
      seqOp = (s, xy) => {
        val (xr, y) = xy
        val xs = new Array[Double](p)
        var j = 0
        while (j < p) { xs(j) = (xr(j) - mean(j)) / scale(j); j += 1 }
        val eta = new Array[Double](k)
        var mx = Double.NegativeInfinity
        var t = 0
        while (t < k) {
          var e = a0(t)
          j = 0
          while (j < p) { e += beta(t)(j) * xs(j); j += 1 }
          eta(t) = e; if (e > mx) mx = e
          t += 1
        }
        var z = 0.0
        t = 0
        while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
        t = 0
        while (t < k) {
          val r = eta(t) / z - y(t)   // P_t - Y_t
          s(t * (p + 1)) += r
          j = 0
          while (j < p) { s(t * (p + 1) + 1 + j) += r * xs(j); j += 1 }
          t += 1
        }
        s(k * (p + 1)) += 1.0
        s
      },
      combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
      depth = 2)
    val n = acc(k * (p + 1))
    val grad = Array.tabulate(k, p)((t, j) => acc(t * (p + 1) + 1 + j) / n)
    val gradA0 = Array.tabulate(k)(t => acc(t * (p + 1)) / n)
    (grad, gradA0)
  }

  /** [[softmaxGrad]] with per-row frequency weights: rows carry the
    * PRE-NORMALIZED weight vn (sums to n over kept rows), every
    * residual contribution multiplies by it, and the count slot
    * accumulates vn — so grad = Σ vn·(p−y)·xs / Σvn, the weighted
    * softmax gradient on the same standardized scale. */
  private def softmaxGradWeighted(rows: RDD[(Array[Double], Array[Double], Double)],
                          mean: Array[Double], scale: Array[Double],
                          beta: Array[Array[Double]], a0: Array[Double],
                          k: Int): (Array[Array[Double]], Array[Double]) = {
    val p = mean.length
    val acc = rows.treeAggregate(new Array[Double](k * (p + 1) + 1))(
      seqOp = (s, xyv) => {
        val (xr, y, vn) = xyv
        val xs = new Array[Double](p)
        var j = 0
        while (j < p) { xs(j) = (xr(j) - mean(j)) / scale(j); j += 1 }
        val eta = new Array[Double](k)
        var mx = Double.NegativeInfinity
        var t = 0
        while (t < k) {
          var e = a0(t)
          j = 0
          while (j < p) { e += beta(t)(j) * xs(j); j += 1 }
          eta(t) = e; if (e > mx) mx = e
          t += 1
        }
        var z = 0.0
        t = 0
        while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
        t = 0
        while (t < k) {
          val r = vn * (eta(t) / z - y(t))   // vn·(P_t - Y_t)
          s(t * (p + 1)) += r
          j = 0
          while (j < p) { s(t * (p + 1) + 1 + j) += r * xs(j); j += 1 }
          t += 1
        }
        s(k * (p + 1)) += vn
        s
      },
      combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
      depth = 2)
    val n = acc(k * (p + 1))
    val grad = Array.tabulate(k, p)((t, j) => acc(t * (p + 1) + 1 + j) / n)
    val gradA0 = Array.tabulate(k)(t => acc(t * (p + 1)) / n)
    (grad, gradA0)
  }

  /** Sparse softmax gradient pass: raw per-class accumulations over the
    * nonzeros only; the centering/standardization correction
    *   grad_std[t][j] = (sum r_t x_j - m_j sum r_t) / s_j / n
    * is applied driver-side (same algebra as the sparse IRLS gram). */
  private[ml] def sparseSoftmaxGrad(
      rows: RDD[(Array[Int], Array[Double], Array[Double], Double)],
      mean: Array[Double], scale: Array[Double],
      beta: Array[Array[Double]], a0: Array[Double],
      k: Int): (Array[Array[Double]], Array[Double]) = {
    val p = mean.length
    val sc = rows.sparkContext
    val bOverS = Array.tabulate(k, p)((t, j) => beta(t)(j) / scale(j))
    val offsets = Array.tabulate(k) { t =>
      var o = a0(t)
      var j = 0
      while (j < p) { o -= mean(j) * bOverS(t)(j); j += 1 }
      o
    }
    val bc = sc.broadcast((bOverS, offsets))
    val acc = rows.treeAggregate(new Array[Double](k * (p + 1) + 1))(
      seqOp = (s, row) => {
        val (idx, vals, y, vn) = row
        val (bos, off) = bc.value
        val eta = new Array[Double](k)
        var mx = Double.NegativeInfinity
        var t = 0
        while (t < k) {
          var e = off(t)
          var i = 0
          while (i < idx.length) { e += vals(i) * bos(t)(idx(i)); i += 1 }
          eta(t) = e; if (e > mx) mx = e
          t += 1
        }
        var z = 0.0
        t = 0
        while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
        t = 0
        while (t < k) {
          val r = vn * (eta(t) / z - y(t)) // vn·(P_t - Y_t)
          s(t * (p + 1)) += r
          var i = 0
          while (i < idx.length) {
            s(t * (p + 1) + 1 + idx(i)) += r * vals(i)
            i += 1
          }
          t += 1
        }
        s(k * (p + 1)) += vn
        s
      },
      combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
      depth = 2)
    val n = acc(k * (p + 1))
    val gradA0 = Array.tabulate(k)(t => acc(t * (p + 1)) / n)
    val grad = Array.tabulate(k, p)((t, j) =>
      (acc(t * (p + 1) + 1 + j) - mean(j) * acc(t * (p + 1))) / scale(j) / n)
    (grad, gradA0)
  }

  private[ml] def sparseMultinomDeviance(rows: RDD[(Array[Int], Array[Double], Array[Double])],
                                     a0: Array[Array[Double]],
                                     beta: Array[Array[Array[Double]]],
                                     k: Int): Array[Double] = {
    val L = a0.length
    rows.treeAggregate(new Array[Double](L))(
      seqOp = (acc, row) => {
        val (idx, vals, y) = row
        var l = 0
        while (l < L) {
          val eta = new Array[Double](k)
          var mx = Double.NegativeInfinity
          var t = 0
          while (t < k) {
            var e = a0(l)(t)
            val bl = beta(l)(t)
            var i = 0
            while (i < idx.length) { e += bl(idx(i)) * vals(i); i += 1 }
            eta(t) = e; if (e > mx) mx = e
            t += 1
          }
          var z = 0.0
          t = 0
          while (t < k) { z += math.exp(eta(t) - mx); t += 1 }
          val logZ = mx + math.log(z)
          t = 0
          var ll = 0.0
          while (t < k) { ll += y(t) * (eta(t) - logZ); t += 1 }
          acc(l) += -2.0 * ll
          l += 1
        }
        acc
      },
      combOp = (a, b) => { var i = 0; while (i < L) { a(i) += b(i); i += 1 }; a },
      depth = 2)
  }

  /** Sparse-input multinomial: one-hot labels over CSR rows; the FISTA
    * driver loop is [[fitMultinomialCore]], with sparse gradient and
    * deviance passes (never densified). */
  private def fitSparseMultinomial(df: DataFrame, idxCol: String, valCol: String,
                                   dim: Int, labelCol: String,
                                   params: SgdNetParams,
                                   weightCol: String = null): SgdNetModel = {
    import org.apache.spark.sql.functions.{col, lit}
    val classes = multinomialClasses(df, labelCol)
    val k = classes.length
    val classIdx = classes.zipWithIndex.toMap
    val wCol = if (weightCol == null) lit(1.0) else col(weightCol).cast("double")
    val raw = df.select(col(idxCol), col(valCol).cast("array<double>"),
        col(labelCol).cast("string"), wCol)
      .rdd.map { r =>
        val y = new Array[Double](k)
        y(classIdx(r.getString(2))) = 1.0
        (r.getSeq[Int](0).toArray, r.getSeq[Double](1).toArray, y,
          r.getDouble(3))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // vn = 1.0 for the unweighted call — bit-identical arithmetic
      val rows =
        if (weightCol == null) raw
        else {
          val (nRows, wSum) = raw.treeAggregate((0L, 0.0))(
            seqOp = (s, r) => {
              require(r._4 >= 0, "weights must be non-negative")
              if (r._4 > 0) (s._1 + 1, s._2 + r._4) else s
            },
            combOp = (a, b) => (a._1 + b._1, a._2 + b._2), depth = 2)
          require(nRows > 0, "the response (y) is empty.")
          val norm = nRows.toDouble / wSum
          raw.filter(_._4 > 0).map(r => (r._1, r._2, r._3, r._4 * norm))
        }
      val g = rows.treeAggregate(new GramStats(dim, k))(
        seqOp = (s, r) => s.addSparseWeighted(r._1, r._2, r._3, r._4),
        combOp = (a, b) => a.merge(b), depth = 2)
      fitMultinomialCore(g, (0 until dim).map(j => s"V$j").toArray, labelCol,
        classes, params,
        gradFn = (mean, scale, yB, yA) =>
          sparseSoftmaxGrad(rows, mean, scale, yB, yA, k),
        devFn = (a0Out, betaOut) =>
          // deviance is linear in y: vn-scaled one-hots weight it exactly
          sparseMultinomDeviance(rows.map(r => (r._1, r._2, r._3.map(_ * r._4))),
            a0Out, betaOut, k))
    } finally raw.unpersist(blocking = false)
  }

  /** SPARSE multinomial fit WITH a per-class offset matrix (round 16 —
    * the [[fitMultinomialWithOffset]] algebra over CSR rows: shared
    * offset-null Newton, offset-corrected null gradient for the lambda
    * path, and the offset in every sparse FISTA gradient / deviance
    * pass; the matrix is never densified). One offset column per
    * class, sorted-label order; optional frequency weights. */
  def fitSparseMultinomialWithOffset(df: DataFrame, idxCol: String,
                                     valCol: String, dim: Int,
                                     labelCol: String,
                                     offsetCols: Seq[String],
                                     params: SgdNetParams,
                                     weightCol: String = null): SgdNetModel = {
    requireGramP(dim)
    import org.apache.spark.sql.functions.{col, lit}
    require(params.family == "multinomial",
      s"fitSparseMultinomialWithOffset is the multinomial route, not ${params.family}")
    val classes = multinomialClasses(df, labelCol)
    val k = classes.length
    require(offsetCols.size == k,
      s"multinomial offset needs one column per class (nclass = $k, " +
        s"sorted-label order), got ${offsetCols.size}")
    val classIdx = classes.zipWithIndex.toMap
    val wCol = if (weightCol == null) lit(1.0) else col(weightCol).cast("double")
    val raw = df.select((Seq(col(idxCol), col(valCol).cast("array<double>"),
        col(labelCol).cast("string")) ++
        offsetCols.map(c => col(c).cast("double")) :+ wCol): _*)
      .rdd.map { r =>
        val y = new Array[Double](k)
        y(classIdx(r.getString(2))) = 1.0
        val off = Array.tabulate(k)(t => r.getDouble(3 + t))
        (r.getSeq[Int](0).toArray, r.getSeq[Double](1).toArray, y, off,
          r.getDouble(3 + k))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (nRows, wSum, offSum) = raw.treeAggregate((0L, 0.0, new Array[Double](k)))(
        seqOp = (s, r) => {
          require(r._5 >= 0, "weights must be non-negative")
          if (r._5 > 0) {
            var t = 0
            while (t < k) { s._3(t) += r._5 * r._4(t); t += 1 }
            (s._1 + 1, s._2 + r._5, s._3)
          } else s
        },
        combOp = (a, b) => {
          var t = 0
          while (t < k) { a._3(t) += b._3(t); t += 1 }
          (a._1 + b._1, a._2 + b._2, a._3)
        }, depth = 2)
      require(nRows > 0, "the response (y) is empty.")
      val norm = nRows.toDouble / wSum
      val rows = raw.filter(_._5 > 0).map(r => (r._1, r._2, r._3, r._4, r._5 * norm))
      var passes = 1
      val g = rows.treeAggregate(new GramStats(dim, k))(
        seqOp = (s, r) => s.addSparseWeighted(r._1, r._2, r._3, r._5),
        combOp = (a, b) => a.merge(b), depth = 2)
      passes += 1
      val st = SufficientStats.standardize(g, params.standardize, params.intercept)
      val mean = if (params.intercept) st.xMean else new Array[Double](dim)
      val scale = if (params.standardize) st.xSd else Array.fill(dim)(1.0)
      val n = g.n.toDouble

      val a0n = if (params.intercept)
        Array.tabulate(k)(t =>
          math.log(math.max(st.yMean(t), 1e-12)) - offSum(t) / wSum)
        else new Array[Double](k)
      val (nulldev, nullPasses) = multinomOffsetNull(
        rows.map(r => (r._3, r._4, r._5)), a0n, k, params.intercept, n)
      passes += nullPasses

      val nullB = if (params.lambda != null) null else {
        val (g0, _) = sparseSoftmaxGradOffset(rows, mean, scale,
          Array.ofDim[Double](k, dim), a0n, k)
        passes += 1
        g0.map(_.map(v => -v))
      }

      fitMultinomialCore(g, (0 until dim).map(j => s"V$j").toArray, labelCol,
        classes, params,
        gradFn = (m, s, yB, yA) => sparseSoftmaxGradOffset(rows, m, s, yB, yA, k),
        devFn = (a0Out, betaOut) =>
          sparseMultinomOffsetDeviance(rows, a0Out, betaOut, k),
        nullA0 = a0n, nullB = nullB, nulldevOverride = nulldev,
        passes0 = passes)
    } finally raw.unpersist(blocking = false)
  }

  /** [[sparseSoftmaxGrad]] with per-row per-class offsets: eta adds
    * the row's offset before the softmax; same uncentered
    * accumulation + driver-side standardization correction. */
  private def sparseSoftmaxGradOffset(
      rows: RDD[(Array[Int], Array[Double], Array[Double], Array[Double], Double)],
      mean: Array[Double], scale: Array[Double],
      beta: Array[Array[Double]], a0: Array[Double],
      k: Int): (Array[Array[Double]], Array[Double]) = {
    val p = mean.length
    val sc = rows.sparkContext
    val bOverS = Array.tabulate(k, p)((t, j) => beta(t)(j) / scale(j))
    val centerOff = Array.tabulate(k) { t =>
      var o = a0(t)
      var j = 0
      while (j < p) { o -= mean(j) * bOverS(t)(j); j += 1 }
      o
    }
    val bc = sc.broadcast((bOverS, centerOff))
    val acc = rows.treeAggregate(new Array[Double](k * (p + 1) + 1))(
      seqOp = (s, row) => {
        val (idx, vals, y, off, vn) = row
        val (bos, cOff) = bc.value
        val eta = new Array[Double](k)
        var mx = Double.NegativeInfinity
        var t = 0
        while (t < k) {
          var e = cOff(t) + off(t)
          var i = 0
          while (i < idx.length) { e += vals(i) * bos(t)(idx(i)); i += 1 }
          eta(t) = e; if (e > mx) mx = e
          t += 1
        }
        var z = 0.0
        t = 0
        while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
        t = 0
        while (t < k) {
          val r = vn * (eta(t) / z - y(t)) // vn·(P_t - Y_t)
          s(t * (p + 1)) += r
          var i = 0
          while (i < idx.length) {
            s(t * (p + 1) + 1 + idx(i)) += r * vals(i)
            i += 1
          }
          t += 1
        }
        s(k * (p + 1)) += vn
        s
      },
      combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
      depth = 2)
    val n = acc(k * (p + 1))
    val gradA0 = Array.tabulate(k)(t => acc(t * (p + 1)) / n)
    val grad = Array.tabulate(k, p)((t, j) =>
      (acc(t * (p + 1) + 1 + j) - mean(j) * acc(t * (p + 1))) / scale(j) / n)
    (grad, gradA0)
  }

  /** [[sparseMultinomDeviance]] with per-row per-class offsets and
    * frequency weights. */
  private def sparseMultinomOffsetDeviance(
      rows: RDD[(Array[Int], Array[Double], Array[Double], Array[Double], Double)],
      a0: Array[Array[Double]], beta: Array[Array[Array[Double]]],
      k: Int): Array[Double] = {
    val L = a0.length
    rows.treeAggregate(new Array[Double](L))(
      seqOp = (acc, row) => {
        val (idx, vals, y, off, vn) = row
        var l = 0
        while (l < L) {
          val eta = new Array[Double](k)
          var mx = Double.NegativeInfinity
          var t = 0
          while (t < k) {
            var e = a0(l)(t) + off(t)
            val bl = beta(l)(t)
            var i = 0
            while (i < idx.length) { e += bl(idx(i)) * vals(i); i += 1 }
            eta(t) = e; if (e > mx) mx = e
            t += 1
          }
          var z = 0.0
          t = 0
          while (t < k) { z += math.exp(eta(t) - mx); t += 1 }
          val logZ = mx + math.log(z)
          t = 0
          var ll = 0.0
          while (t < k) { ll += y(t) * (eta(t) - logZ); t += 1 }
          acc(l) += -2.0 * vn * ll
          l += 1
        }
        acc
      },
      combOp = (a, b) => { var i = 0; while (i < L) { a(i) += b(i); i += 1 }; a },
      depth = 2)
  }

  private[ml] def multinomDeviance(rows: RDD[(Array[Double], Array[Double])],
                               a0: Array[Array[Double]],
                               beta: Array[Array[Array[Double]]],
                               k: Int): Array[Double] = {
    val L = a0.length
    rows.treeAggregate(new Array[Double](L))(
      seqOp = (acc, xy) => {
        val (x, y) = xy
        val p = x.length
        var l = 0
        while (l < L) {
          val eta = new Array[Double](k)
          var mx = Double.NegativeInfinity
          var t = 0
          while (t < k) {
            var e = a0(l)(t)
            var j = 0
            while (j < p) { e += beta(l)(t)(j) * x(j); j += 1 }
            eta(t) = e; if (e > mx) mx = e
            t += 1
          }
          var z = 0.0
          t = 0
          while (t < k) { z += math.exp(eta(t) - mx); t += 1 }
          val logZ = mx + math.log(z)
          t = 0
          var ll = 0.0
          while (t < k) { ll += y(t) * (eta(t) - logZ); t += 1 }
          acc(l) += -2.0 * ll
          l += 1
        }
        acc
      },
      combOp = (a, b) => { var i = 0; while (i < L) { a(i) += b(i); i += 1 }; a },
      depth = 2)
  }
}
