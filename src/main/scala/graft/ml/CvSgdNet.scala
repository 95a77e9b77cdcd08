package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-fold cross-validation over the regularization path (and optionally an
  * alpha grid) — the Spark analogue of reference R/cv_sgdnet.R.
  *
  * Fold assignment is a deterministic hash of the row content
  * (`pmod(xxhash64(cols), k)`) — no materialized splits, stable across
  * partitionings, and scalable: no data movement at all for assignment.
  *
  * For the gaussian family the WHOLE cross-validation runs from ONE data
  * pass: per-fold Gram/moment statistics are aggregated together, the
  * train-side moments for fold f are total minus fold-f (moment
  * subtraction), each fold's path is solved driver-side, and the held-out
  * MSE is itself a moment form evaluated against fold-f's statistics.
  * mgaussian rides the same one-pass machinery (its per-response
  * moments decouple; only the driver-side solve couples them).
  * Binomial, multinomial, and poisson CV advance ALL fold-models
  * together — one shared aggregate per solver round serves every fold
  * (and the full-data fit rides along as a virtual extra fold), so CV
  * costs about one fit's worth of data passes, not k+1 of them. The
  * generic per-fold refit path (`cvGeneric`) survives as the parity
  * reference the specs compare every shared route against, and as the
  * fallback for measure/family combinations outside the shared routes
  * (e.g. poisson with class/auc, which `fit` rejects anyway).
  */
object CvSgdNet {

  final case class CvPath(
      alpha: Double,
      lambda: Array[Double],
      cvm: Array[Double],      // mean CV score per lambda (lower is better)
      cvsd: Array[Double],     // standard error of the fold scores
      lambdaMin: Double,       // arg-min of cvm
      lambda1se: Double,       // largest lambda with cvm <= min + 1 se
      fit: SgdNetModel)        // full-data fit at this alpha

  /** @param offsetFit true when the CV was fit through an offset entry
    *                   (fitWithOffset and kin) — [[predictAt]] then
    *                   REQUIRES offsetCols (glmnet: predict.cv.glmnet
    *                   errors without newoffset when the fit used
    *                   offset). NOT persisted by [[save]]: a loaded
    *                   result cannot re-enforce the contract. */
  final case class CvResult(paths: Seq[CvPath], best: CvPath,
                            offsetFit: Boolean = false) {
    /** CV curve long-frame (reference plot.cv_sgdnet data). */
    def curveDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      paths.flatMap { p =>
        p.lambda.indices.map(l =>
          (p.alpha, l, p.lambda(l), p.cvm(l), p.cvsd(l)))
      }.toDF("alpha", "lambda_idx", "lambda", "cvm", "cvsd")
    }

    /** predict.cv_sgdnet: predictions at the selected penalty
      * (`which` = "lambda.min" | "lambda.1se" | a numeric string),
      * interpolating the best full-data path like the reference.
      *
      * Round 18 — the glmnet predict.cv.glmnet composition hooks:
      * `offsetCols` forwards a per-row `newoffset` (REQUIRED by glmnet
      * when the fit used offset; one column for single-response
      * families, one per class/response for multinomial/mgaussian),
      * and `idxCol`/`valCol` score CSR (indices, values) rows instead
      * of dense feature columns (dgCMatrix newx) — both delegate to
      * [[SgdNetModel.predColFor]], the same column algebra as
      * `predictWithOffset`/`predictSparse` at the interpolated
      * coefficients. */
    def predictAt(df: DataFrame, which: String = "lambda.min",
                  tpe: String = "link",
                  offsetCols: Seq[String] = Nil,
                  idxCol: String = null, valCol: String = null): DataFrame = {
      val s = which match {
        case "lambda.min" => best.lambdaMin
        case "lambda.1se" => best.lambda1se
        case other        => other.toDouble
      }
      require((idxCol == null) == (valCol == null),
        "sparse predictAt needs BOTH idxCol and valCol")
      require(!offsetFit || offsetCols.nonEmpty,
        "this CV was fit WITH an offset: predictAt requires offsetCols " +
          "(the glmnet predict.cv.glmnet newoffset contract) — " +
          "offset-less predictions would be silently wrong by each " +
          "row's offset")
      val (a0, beta) = best.fit.atLambda(s)
      val sparse = if (idxCol == null) None else Some((idxCol, valCol))
      df.withColumn("pred", best.fit.predColFor(df.sparkSession, tpe,
        a0, beta, offsetCols, sparse))
    }

    /** score.cv_sgdnet (reference R/score.R:182-201): score NEW data at
      * the CV-selected penalty. `which` = "lambda.min" | "lambda.1se" |
      * a numeric string; measure semantics match [[SgdNetModel.scoreAt]]
      * (deviance/mse/mae/class/auc per family). */
    def score(df: DataFrame, measure: String = "deviance",
              which: String = "lambda.min"): Double = {
      val s = which match {
        case "lambda.min" => best.lambdaMin
        case "lambda.1se" => best.lambda1se
        case other        => other.toDouble
      }
      best.fit.scoreAt(df, measure, s)
    }

    /** deviance.cv_sgdnet: the full-data fit's deviance path. */
    def deviance: Array[Double] = best.fit.deviance

    /** print.cv_sgdnet data: one row per alpha with the selected lambdas
      * and their CV scores. */
    def summaryDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      paths.map { p =>
        val iMin = p.lambda.indexWhere(_ == p.lambdaMin)
        val i1se = p.lambda.indexWhere(_ == p.lambda1se)
        (p.alpha, p.lambdaMin, p.cvm(iMin), p.cvsd(iMin),
          p.lambda1se, p.cvm(i1se))
      }.toDF("alpha", "lambda_min", "cvm_min", "cvsd_min",
        "lambda_1se", "cvm_1se")
    }

    /** Persist the whole CV result (parquet-backed): the per-alpha
      * curves + selections in one `<path>/curves` table, each full-data
      * fit under `<path>/model_<i>` via [[SgdNetModel!.save]]. The
      * reference restores cv_sgdnet objects with `readRDS`; this is the
      * Spark equivalent. Restored by [[CvSgdNet.load]].
      * `overwrite = false` fails on an existing path instead of
      * silently clobbering it (the MLlib writer convention; ONE root
      * check before anything is written, never a half-written dir). */
    def save(spark: SparkSession, path: String,
             overwrite: Boolean = true): Unit = {
      import spark.implicits._
      SgdNetModel.checkOverwrite(spark, path, overwrite)
      val bestIdx = math.max(paths.indexWhere(_ eq best), 0)
      val rows = paths.zipWithIndex.flatMap { case (p, i) =>
        p.lambda.indices.map { l =>
          (i, i == bestIdx, p.alpha, l, p.lambda(l), p.cvm(l), p.cvsd(l),
            p.lambdaMin, p.lambda1se)
        }
      }
      rows.toDF("path_idx", "is_best", "alpha", "lambda_idx", "lambda",
          "cvm", "cvsd", "lambda_min", "lambda_1se")
        .repartition(1).write.mode("overwrite").parquet(s"$path/curves")
      paths.zipWithIndex.foreach { case (p, i) =>
        // root check already passed — inner writes overwrite freely
        p.fit.save(spark, s"$path/model_$i")
      }
    }
  }

  /** Restore a relaxed-CV result persisted by [[RelaxedCvResult.save]]. */
  def loadRelaxed(spark: SparkSession, path: String): RelaxedCvResult = {
    val rows = spark.read.parquet(s"$path/curves")
      .select(col("path_idx").cast("int"), col("is_best"), col("gamma"),
        col("alpha"), col("lambda_idx").cast("int"), col("lambda"),
        col("cvm"), col("cvsd"), col("lambda_min"), col("lambda_1se"))
      .collect()
    val byPath = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    val bestIdx = math.max(byPath.indexWhere(_._2.head.getBoolean(1)), 0)
    val gammas = byPath.map(_._2.head.getDouble(2)).toArray
    val paths = byPath.map { case (i, rs) =>
      val sorted = rs.sortBy(_.getInt(4))
      CvPath(
        alpha = rs.head.getDouble(3),
        lambda = sorted.map(_.getDouble(5)),
        cvm = sorted.map(_.getDouble(6)),
        cvsd = sorted.map(_.getDouble(7)),
        lambdaMin = rs.head.getDouble(8),
        lambda1se = rs.head.getDouble(9),
        fit = SgdNetModel.load(spark, s"$path/model_$i"))
    }
    val penalized = SgdNetModel.load(spark, s"$path/penalized")
    val refitRows = spark.read.parquet(s"$path/refit")
      .select(col("lambda_idx").cast("int"), col("ols_a0"), col("ols_beta"))
      .collect().sortBy(_.getInt(0))
    val olsA0 = refitRows.map(_.getDouble(1))
    val olsBeta = refitRows.map(_.getSeq[Double](2).toArray)
    RelaxedCvResult(gammas, paths, gammas(bestIdx), paths(bestIdx),
      SgdNet.RelaxedPath(penalized, olsA0, olsBeta, 1.0))
  }

  /** Restore a CV result persisted by [[CvResult.save]]. */
  def load(spark: SparkSession, path: String): CvResult = {
    val rows = spark.read.parquet(s"$path/curves")
      .select(col("path_idx").cast("int"), col("is_best"), col("alpha"),
        col("lambda_idx").cast("int"), col("lambda"), col("cvm"),
        col("cvsd"), col("lambda_min"), col("lambda_1se"))
      .collect()
    val byPath = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    // best = POSITION within the sorted seq, not the stored path_idx —
    // identical for files written by save(), but robust to an edited /
    // partial curves table with non-contiguous path indexes
    val bestIdx = math.max(byPath.indexWhere(_._2.head.getBoolean(1)), 0)
    val paths = byPath.map { case (i, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      CvPath(
        alpha = rs.head.getDouble(2),
        lambda = sorted.map(_.getDouble(4)),
        cvm = sorted.map(_.getDouble(5)),
        cvsd = sorted.map(_.getDouble(6)),
        lambdaMin = rs.head.getDouble(7),
        lambda1se = rs.head.getDouble(8),
        fit = SgdNetModel.load(spark, s"$path/model_$i"))
    }
    CvResult(paths, paths(bestIdx))
  }

  /** lambda.min / lambda.1se from a CV curve. `maximize = true` runs
    * the same rule on −cvm (cv.glmnet's internal sign flip for auc):
    * lambda.min is the argmax, lambda.1se the largest lambda with
    * cvm >= max − sd. */
  private def select(lambda: Array[Double], cvm: Array[Double],
                     cvsd: Array[Double],
                     maximize: Boolean = false): (Double, Double) = {
    val s = if (maximize) cvm.map(-_) else cvm
    val minIdx = s.indices.minBy(s(_))
    val lambdaMin = lambda(minIdx)
    val cut = s(minIdx) + cvsd(minIdx)
    // lambda is descending: pick the LARGEST lambda within one se
    val idx1se = lambda.indices.find(l => s(l) <= cut).getOrElse(minIdx)
    (lambdaMin, lambda(idx1se))
  }

  /** @param measure "deviance" | "mse" | "mae" | "class" | "auc"
    *                 (reference R/cv_sgdnet.R:119-128; auc is
    *                 binomial-only, mae/mse valid for every family).
    *                 NOTE: selection minimizes cvm for EVERY measure,
    *                 auc included — matching the reference's
    *                 find_optimum (R/cv_sgdnet.R:265-282, which.min
    *                 unconditionally); callers maximizing auc should
    *                 read the curve via curveDF and pick the max.
    * @param foldCol optional custom fold-assignment expression in
    *                 [0, nfolds); defaults to the content hash
    *                 `pmod(xxhash64(features, labels), nfolds)`. Supply an
    *                 engine-portable hash (e.g. [[graft.ops.Sampling
    *                 .hashBucket]] of a stable key) when results must be
    *                 reproducible outside Spark. */
  def fit(df: DataFrame, featureCols: Seq[String], labelCols: Seq[String],
          params: SgdNetParams = SgdNetParams(),
          nfolds: Int = 10,
          alphas: Seq[Double] = Seq.empty,
          measure: String = "deviance",
          foldCol: Column = null): CvResult = {
    SgdNet.requireGramP(featureCols.size)
    require(nfolds >= 2, "nfolds must be at least 2")
    require(Set("deviance", "mse", "mae", "class", "auc").contains(measure),
      s"unknown type.measure '$measure' (want deviance|mse|mae|class|auc)")
    // glmnet cv.glmnet(lower.limits/upper.limits): supported on EVERY
    // path since round 16 — the 1-D paths take the exact clipped prox,
    // and the group-penalty paths (mgaussian; grouped multinomial) take
    // the boxed group prox (LinAlg.boxedGroupProx).
    // same single-response validation as SgdNet.fit — without it a
    // 2-label gaussian call would silently ride the mgaussian stats
    // path and score response 0 only
    require(params.family == "mgaussian" || labelCols.size == 1,
      s"response for ${params.family} must be one-dimensional " +
        "(use family=\"mgaussian\" for multi-response)")
    val alphaGrid = if (alphas.nonEmpty) alphas else Seq(params.alpha)
    val paths =
      if ((params.family == "gaussian" || params.family == "mgaussian") &&
          (measure == "deviance" || measure == "mse" || measure == "mae")) {
        // ONE stats pass serves the WHOLE alpha grid AND every alpha's
        // full-data fit: per-fold Gram moments are alpha-independent,
        // so the alpha loop is pure driver arithmetic (mae adds one
        // scoring aggregation per alpha — |residual| is not a moment).
        // mgaussian rides the same machinery: the moments decouple per
        // response (GramStats carries k response columns), only the
        // driver-side solve couples them through the group penalty.
        val p = featureCols.size
        val k = labelCols.size
        val hashCols = (featureCols ++ labelCols).map(col)
        val withFold = df.withColumn("__fold", foldExpr(foldCol, hashCols, nfolds))
        val rdd = withFold.select(
            (featureCols.map(c => col(c).cast("double")) ++
              labelCols.map(c => col(c).cast("double")) :+
              col("__fold").cast("int")): _*)
          .rdd.map { row =>
            val x = new Array[Double](p)
            var j = 0
            while (j < p) { x(j) = row.getDouble(j); j += 1 }
            val y = new Array[Double](k)
            var t = 0
            while (t < k) { y(t) = row.getDouble(p + t); t += 1 }
            (row.getInt(p + k), x, y)
          }
        val zero = Array.fill(nfolds)(new GramStats(p, k))
        val perFold = rdd.treeAggregate(zero)(
          seqOp = (acc, t) => { acc(t._1).add(t._2, t._3); acc },
          combOp = (a, b) => {
            var i = 0; while (i < nfolds) { a(i).merge(b(i)); i += 1 }; a
          },
          depth = 2)
        requireNonEmptyFolds(perFold.map(_.n), nfolds)
        val total = new GramStats(p, k)
        perFold.foreach(total.merge)
        alphaGrid.map { a =>
          if (k == 1 && params.family == "gaussian")
            cvGaussianFromStats(withFold, perFold, total, featureCols,
              labelCols.head, params.copy(alpha = a), nfolds, measure)
          else
            cvMgaussianFromStats(withFold, perFold, total, featureCols,
              labelCols, params.copy(alpha = a), nfolds, measure)
        }
      } else if (params.family == "binomial" || (params.family == "poisson" &&
          (measure == "deviance" || measure == "mse" || measure == "mae")))
        cvIrls(df, labelCols.head, params, nfolds, alphaGrid, measure,
          weighted = false, hasOffset = false, featureCols.toArray,
          denseIrlsRows(df, featureCols, labelCols.head, nfolds, foldCol, null, null))
      else alphaGrid.map { a =>
        val p = params.copy(alpha = a)
        if (params.family == "multinomial")
          cvMultinomialShared(df, featureCols, labelCols.head, p, nfolds,
            foldCol, measure)
        else cvGeneric(df, featureCols, labelCols, p, nfolds, measure, foldCol)
      }
    // best path: smallest cvm at its lambdaMin
    val best = paths.minBy(p => p.cvm.min)
    CvResult(paths, best)
  }

  private[ml] def foldExpr(foldCol: Column, hashCols: Seq[Column], nfolds: Int): Column =
    if (foldCol != null) foldCol else pmod(xxhash64(hashCols: _*), lit(nfolds))

  /** Every fold must receive at least one observation: an empty fold has
    * no held-out rows to score (mean over 0 rows -> silent NaN poisoning
    * cvm/cvsd downstream), so fail fast with an actionable message — the
    * analogue of the reference's fold-size validation (R/cv_sgdnet.R). */
  private[ml] def requireNonEmptyFolds(counts: IndexedSeq[Long], nfolds: Int): Unit = {
    val empty = counts.indices.filter(counts(_) == 0L)
    require(empty.isEmpty,
      s"cross-validation fold(s) ${empty.mkString(", ")} of $nfolds received " +
        "no observations; decrease nfolds or supply a foldCol that populates " +
        "every fold")
  }

  // ------------------------------------------------- gaussian, one-pass CV

  /** The per-alpha driver half of gaussian CV: everything below runs on
    * the SHARED per-fold moments computed once in [[fit]] — the
    * full-data path for this alpha solves from the merged total
    * (identical arithmetic to a standalone `SgdNet.fit`, modulo
    * per-fold-then-merge summation order), each fold's path from
    * moment subtraction, and held-out mse/deviance are themselves
    * moment forms. Only mae touches row data (one aggregation). */
  private def cvGaussianFromStats(withFold: DataFrame,
                                  perFold: Array[GramStats], total: GramStats,
                                  featureCols: Seq[String], labelCol: String,
                                  params: SgdNetParams, nfolds: Int,
                                  measure: String): CvPath = {
    val p = featureCols.size
    val full = SgdNet.solveGaussianFromStats(total, featureCols, Seq(labelCol),
      params) // defines lambda
    val lambdas = full.lambda

    val L = lambdas.length
    val foldScores = Array.ofDim[Double](nfolds, L)
    // coefficients per (fold, lambda) on the original scale — the mae
    // scoring pass needs them; moment scoring uses them in closed form
    val a0Out = Array.ofDim[Double](nfolds, L)
    val bOut = Array.ofDim[Double](nfolds, L, p)
    for (f <- 0 until nfolds) {
      // train = total - fold (moment subtraction)
      val fg = perFold(f)
      val train = new GramStats(p, 1).merge(total).subtract(fg)

      val st = SufficientStats.standardize(train, params.standardize, params.intercept)
      val scale = if (params.standardize) st.xSd else Array.fill(p)(1.0)
      // sgdnetCompat: each fold-fit rescales by ITS OWN training-fold
      // sd_pop(y), exactly as the reference's cv refits would
      val l2Scale = SgdNet.compatL2Scale(params, 1, st.yVar)
      // box limits on each fold's OWN standardized coordinate scale —
      // the same clipped prox the full fit applies (cv.glmnet limits)
      val (loStd, upStd) = SgdNet.boundsStd(params, scale, 1.0)
      var warm = new Array[Double](p)
      for (l <- 0 until L) {
        val r = CoordinateDescent.solve(st.gram, st.b(0), new Array[Double](p),
          0.0, 1.0, lambdas(l), params.alpha, intercept = false, warm,
          thresh = params.thresh * 1e-4, maxIter = params.maxit,
          l2Scale = l2Scale, penaltyFactor = params.penaltyFactor,
          lower = loStd, upper = upStd)
        warm = r.beta
        // back-transform to original scale
        val bOrig = Array.tabulate(p)(j => r.beta(j) / scale(j))
        val a0 = if (params.intercept)
          st.yMean(0) - (0 until p).map(j => bOrig(j) * st.xMean(j)).sum else 0.0
        a0Out(f)(l) = a0
        for (j <- 0 until p) bOut(f)(l)(j) = bOrig(j)
        if (measure != "mae") {
          // held-out MSE from fold-f moments:
          // (1/nf) sum (y - a0 - x'b)^2 =
          //   Syy/nf - 2 a0 Sy/nf + a0^2 + b'(Sxx/nf)b + 2 a0 b'Sx/nf - 2 b'Sxy/nf
          val nf = fg.n.toDouble
          var quad = 0.0; var bx = 0.0; var bxy = 0.0
          for (j <- 0 until p) {
            bx += bOrig(j) * fg.sumX(j) / nf
            bxy += bOrig(j) * fg.xty(j) / nf
            var s = 0.0
            for (m <- 0 until p) s += fg.xtx(LinAlg.triIdx(j, m)) / nf * bOrig(m)
            quad += bOrig(j) * s
          }
          foldScores(f)(l) = fg.sumYY(0) / nf - 2 * a0 * fg.sumY(0) / nf + a0 * a0 +
            quad + 2 * a0 * bx - 2 * bxy
        }
      }
    }
    if (measure == "mae") {
      // |residual| is not a moment form — ONE row-scoring aggregation
      // computes every (fold, lambda) held-out MAE: each cell filters to
      // its own fold and evaluates that fold's model (all nfolds x L
      // predictors fold into the plan as literals; still just 2 data
      // passes total for the whole CV)
      val label = col(labelCol).cast("double")
      val cells = for (f <- 0 until nfolds; l <- 0 until L) yield {
        val eta = featureCols.zipWithIndex.foldLeft(lit(a0Out(f)(l))) {
          case (acc, (c, j)) =>
            val w = bOut(f)(l)(j)
            if (w == 0.0) acc else acc + col(c) * lit(w)
        }
        avg(when(col("__fold") === f, abs(label - eta))).as(s"m_${f}_$l")
      }
      val row = withFold.agg(cells.head, cells.tail: _*).head()
      for (f <- 0 until nfolds; l <- 0 until L)
        // an EMPTY fold averages to NULL — degrade to NaN like the
        // moment-based scores do, instead of NPE-ing the whole CV
        foldScores(f)(l) =
          if (row.isNullAt(f * L + l)) Double.NaN else row.getDouble(f * L + l)
    }
    summarize(params.alpha, lambdas, foldScores, full)
  }

  // ----------------------------------------- mgaussian, one-pass moment CV

  /** Multi-response (mgaussian) CV from the SAME one-pass per-fold
    * moments as the gaussian path: the sufficient statistics decouple
    * per response (GramStats carries k response columns), so moment
    * subtraction still yields every fold's train statistics from one
    * data pass; only the driver-side solve couples responses through
    * the group penalty — and that reuses [[SgdNet.solveGaussianFromStats]]
    * verbatim (identical standardization, group CD,
    * standardize.response handling, back-transform), so each fold's
    * path IS a standalone mgaussian fit on its train moments. Held-out
    * deviance/mse are per-response moment forms summed across responses
    * (the [[SgdNetModel.score]] mgaussian convention: per-row error
    * summed over responses, averaged over rows); mae adds one scoring
    * aggregation. CV cost: ONE data pass (+1 for mae) regardless of
    * nfolds — the 100 TB shape. */
  private def cvMgaussianFromStats(withFold: DataFrame,
                                   perFold: Array[GramStats], total: GramStats,
                                   featureCols: Seq[String],
                                   labelCols: Seq[String],
                                   params: SgdNetParams, nfolds: Int,
                                   measure: String): CvPath = {
    val p = featureCols.size
    val k = labelCols.size
    val full = SgdNet.solveGaussianFromStats(total, featureCols, labelCols,
      params) // defines lambda
    val lambdas = full.lambda
    val L = lambdas.length
    val foldScores = Array.ofDim[Double](nfolds, L)
    // original-scale coefficients per (fold, lambda, response)
    val a0Out = Array.ofDim[Double](nfolds, L, k)
    val bOut = Array.ofDim[Double](nfolds, L, k, p)
    for (f <- 0 until nfolds) {
      // train = total - fold (moment subtraction, all k responses)
      val fg = perFold(f)
      val train = new GramStats(p, k).merge(total).subtract(fg)
      val fm = SgdNet.solveGaussianFromStats(train, featureCols, labelCols,
        params.copy(lambda = lambdas))
      for (l <- 0 until L; t <- 0 until k) {
        a0Out(f)(l)(t) = fm.a0(l)(t)
        for (j <- 0 until p) bOut(f)(l)(t)(j) = fm.beta(l)(t)(j)
      }
      if (measure != "mae") {
        // held-out (mse == deviance) from fold-f moments, summed across
        // responses — same closed form as the gaussian path per response
        val nf = fg.n.toDouble
        for (l <- 0 until L) {
          var s = 0.0
          for (t <- 0 until k) {
            val a0 = a0Out(f)(l)(t)
            val bt = bOut(f)(l)(t)
            var quad = 0.0; var bx = 0.0; var bxy = 0.0
            for (j <- 0 until p) {
              bx += bt(j) * fg.sumX(j) / nf
              bxy += bt(j) * fg.xty(j * k + t) / nf
              var sj = 0.0
              for (m <- 0 until p) sj += fg.xtx(LinAlg.triIdx(j, m)) / nf * bt(m)
              quad += bt(j) * sj
            }
            s += fg.sumYY(t) / nf - 2 * a0 * fg.sumY(t) / nf + a0 * a0 +
              quad + 2 * a0 * bx - 2 * bxy
          }
          foldScores(f)(l) = s
        }
      }
    }
    if (measure == "mae") {
      // |residual| is not a moment form — ONE aggregation computes every
      // (fold, lambda) held-out MAE (per-row abs errors summed across
      // responses, the scoreAllLambdas mgaussian convention)
      val cells = for (f <- 0 until nfolds; l <- 0 until L) yield {
        val err = (0 until k).map { t =>
          val eta = featureCols.zipWithIndex.foldLeft(lit(a0Out(f)(l)(t))) {
            case (acc, (c, j)) =>
              val w = bOut(f)(l)(t)(j)
              if (w == 0.0) acc else acc + col(c) * lit(w)
          }
          abs(col(labelCols(t)).cast("double") - eta)
        }.reduce(_ + _)
        avg(when(col("__fold") === f, err)).as(s"m_${f}_$l")
      }
      val row = withFold.agg(cells.head, cells.tail: _*).head()
      for (f <- 0 until nfolds; l <- 0 until L)
        foldScores(f)(l) =
          if (row.isNullAt(f * L + l)) Double.NaN else row.getDouble(f * L + l)
    }
    summarize(params.alpha, lambdas, foldScores, full)
  }

  // -------------------------------- binomial / poisson, fold-tiled IRLS CV

  /** The per-fold paths of one IRLS CV at one alpha: the λ grid, every
    * model's ORIGINAL-scale intercepts and nonzero coefficients ([F][L];
    * model `nfolds` is the full data), p, and the passes the full
    * model's `npasses` reports. */
  private[ml] final case class FoldPaths(lambdas: Array[Double],
                                         a0: Array[Array[Double]],
                                         coefs: Array[Array[SgdNet.Coefs]],
                                         p: Int, passes: Int) {
    /** Model f's dense coefficients at path point l. */
    def beta(f: Int, l: Int): Array[Double] = coefs(f)(l).dense(p)
  }

  /** Rows of a dense IRLS CV, given the response column: the
    * `SgdNet.glmRows` rows plus the fold (content hash of features and
    * label unless `foldCol` is given). */
  private[ml] def denseIrlsRows(df: DataFrame, featureCols: Seq[String],
                            labelCol: String, nfolds: Int, foldCol: Column,
                            weightCol: String, offsetCol: String): Column => SgdNet.IrlsRows = {
    val fold = foldExpr(foldCol, (featureCols :+ labelCol).map(col), nfolds)
    y => SgdNet.DenseRows(SgdNet.glmRows(df, featureCols, y, weightCol,
      offsetCol, fold), featureCols.size)
  }

  /** The CSR twin of [[denseIrlsRows]] (fold hash of idx, vals, label). */
  private def csrIrlsRows(df: DataFrame, idxCol: String, valCol: String,
                          dim: Int, labelCol: String, nfolds: Int,
                          foldCol: Column, weightCol: String,
                          offsetCol: String): Column => SgdNet.IrlsRows = {
    val fold = foldExpr(foldCol, Seq(col(idxCol), col(valCol), col(labelCol)), nfolds)
    y => SgdNet.CsrRows(SgdNet.csrRows(df, idxCol, valCol, y, weightCol,
      offsetCol, fold), dim)
  }

  /** The one binomial/poisson CV path, behind [[fit]],
    * [[fitWeighted]]/[[fitWeightedMulti]], [[fitWithOffset]],
    * [[fitSparse]] and [[fitSparseWithOffset]], with or without weights
    * and offset, dense or CSR. All k fold-models advance TOGETHER: each
    * IRLS round is ONE fold-tiled `IrlsSetup.gram` pass for every
    * unconverged model (a row trains every model but its own fold's),
    * and the FULL-data model rides the same passes as virtual fold k,
    * so CV costs about one fit's worth of data passes, not k+1 of them.
    * Setup, null intercepts, per-fold box limits and the λ grid are
    * `SgdNet.IrlsSetup`'s — the code `SgdNet.fitIrls` runs on the full
    * data, penalty-factor zeros included — and one moments pass serves
    * every alpha. The full model finishes with `IrlsSetup.model`'s
    * deviance pass; held-out scores take one more pass
    * ([[heldOutScores]]). `paths` runs the per-alpha fold paths:
    * [[foldPaths]] here, with (k+1) × p² driver state, or
    * `LargeP.screenedIrls` at large p, with (k+1) × |E|². */
  private[ml] def cvIrls(df: DataFrame, labelCol: String, params: SgdNetParams,
                         nfolds: Int, alphas: Seq[Double], measure: String,
                         weighted: Boolean, hasOffset: Boolean,
                         featureNames: Array[String],
                         rowsOf: Column => SgdNet.IrlsRows,
                         paths: (SgdNet.IrlsSetup, SgdNetParams) => FoldPaths = foldPaths): Seq[CvPath] =
    SgdNet.withIrlsSetup(df, labelCol, params, nfolds, weighted, hasOffset, rowsOf) {
      (s, classes) =>
        alphas.map { a =>
          val pa = params.copy(alpha = a)
          val fp = paths(s, pa)
          val L = fp.lambdas.length
          val full = s.model(featureNames, labelCol, classes, pa, fp.lambdas,
            Array.tabulate(L)(l => Array(fp.a0(nfolds)(l))),
            Array.tabulate(L)(l => Array(fp.beta(nfolds, l))), fp.passes)
          summarize(a, fp.lambdas,
            heldOutScores(df.sparkSession, s, measure, fp.a0, fp.coefs), full)
        }
    }

  /** Stage 1 of every IRLS CV: the penalized path of every model of `s`
    * at `params.alpha`, warm-started along the λ grid. Per λ, each model
    * first takes a free Newton step (no data pass) against its gram
    * carried from the previous λ — the gram depends on the coefficients,
    * not on λ. A model whose solve does not move AT ALL (typical while β
    * stays 0 near the top of the path) is converged; the carried gram
    * sits within the convergence tolerance of the current coefficients,
    * so this declaration carries the same O(thresh) optimality slack as
    * a fresh-pass one. Moving models then take fresh passes, one
    * fold-tiled gram pass per round for all of them, each solve the
    * penalized WLS of `SgdNet.fitIrls` (at most 25 rounds, stop at
    * max|Δcoef| < max(thresh·1e-2, 1e-8)). */
  private def foldPaths(s: SgdNet.IrlsSetup, params: SgdNetParams): FoldPaths = {
    val p = s.p
    val F = s.full + 1
    val lambdas = s.lambdas(params.alpha)
    val L = lambdas.length
    val beta = Array.fill(F)(new Array[Double](p)) // standardized scale
    val a0 = s.a0Null.clone()
    val a0Out = Array.ofDim[Double](F, L)
    val betaOut = Array.ofDim[SgdNet.Coefs](F, L)
    val newtonTol = math.max(params.thresh * 1e-4, 1e-10)
    val tol = math.max(params.thresh * 1e-2, 1e-8)
    val lastGram = new Array[SgdNet.WGram](F)
    var passes = 0
    for (l <- 0 until L) {
      // one penalized WLS step of model f on gram g; returns max|Δcoef|
      def step(f: Int, g: SgdNet.WGram): Double = {
        val (r, maxD) = SgdNet.wlsStep(g, s.n(f), beta(f), a0(f)) {
          (aM, c, xw, zBar, wBar, warm) =>
            CoordinateDescent.solve(aM, c, xw, zBar, wBar, lambdas(l),
              params.alpha, params.intercept, warm, thresh = newtonTol,
              maxIter = params.maxit, penaltyFactor = params.penaltyFactor,
              lower = s.bounds(f)._1, upper = s.bounds(f)._2)
        }
        beta(f) = r.beta; a0(f) = r.a0
        maxD
      }
      val active = Array.fill(F)(true)
      if (lastGram.forall(_ != null))
        for (f <- 0 until F) if (step(f, lastGram(f)) == 0.0) active(f) = false
      var iter = 0
      while (iter < 25 && active.exists(identity)) {
        val grams = s.gram(beta.clone(), a0.clone(), active.clone())
        passes += 1
        for (f <- 0 until F if active(f)) {
          lastGram(f) = grams(f)
          if (step(f, grams(f)) < tol) active(f) = false
        }
        iter += 1
      }
      for (f <- 0 until F) {
        val (b, a) = s.original(f, beta(f), a0(f))
        betaOut(f)(l) = SgdNet.Coefs.of(b); a0Out(f)(l) = a
      }
    }
    FoldPaths(lambdas, a0Out, betaOut, p, passes)
  }

  /** Held-out scores of per-fold coefficient sets: a row of fold f is
    * scored at η = a0(f)(c) + off + x·β(f)(c) for every column c, by the
    * model trained without it, the row's own offset included (glmnet
    * newoffset). Only the nonzero coefficients are broadcast and read,
    * so a dense row costs O(columns·|active|) and a CSR row
    * O(columns·nnz·log|active|) (see `SgdNet.Coefs`). One pass for
    * Σv·err/Σv with raw weights, or the rank AUC per (fold, column) through
    * [[aucPerGroup]] (v-weighted when weighted; AUC is invariant to the
    * monotone link, so η ranks directly and never saturates). Returns
    * [nfolds][columns]. */
  private[ml] def heldOutScores(spark: SparkSession, s: SgdNet.IrlsSetup,
                                measure: String, a0: Array[Array[Double]],
                                beta: Array[Array[SgdNet.Coefs]]): Array[Array[Double]] = {
    val nfolds = s.nfolds
    val C = a0(0).length
    val sc = spark.sparkContext
    val bA0 = sc.broadcast(a0)
    val bBeta = sc.broadcast(beta)
    if (measure == "auc") {
      val scored = spark.createDataFrame(s.rows.rdd.map { r =>
        val a = bA0.value(r.fold); val b = bBeta.value(r.fold)
        (r.fold, r.y, r.w, Array.tabulate(C)(c => r.eta(a(c) + r.off, b(c))))
      }).toDF("__fold", "__y", "__v", "__etas")
      // ONE rank chain for every (column, fold) cell: explode the eta
      // array and rank group column·nfolds + fold
      val exploded = scored
        .select(col("__fold"), col("__y"), col("__v"),
          posexplode(col("__etas")).as(Seq("__c", "__s")))
        .select((col("__c") * nfolds + col("__fold")).as("__g"),
          col("__s"), col("__y"), col("__v"))
      val aucs = aucPerGroup(exploded, C * nfolds,
        weightCol = if (s.weighted) "__v" else null)
      Array.tabulate(nfolds, C)((f, c) => aucs(c * nfolds + f))
    } else {
      val loss = heldOutLoss(s.fam, measure)
      val sums = s.rows.rdd.treeAggregate(new Array[Double](nfolds * C))(
        (acc, r) => {
          val a = bA0.value(r.fold); val b = bBeta.value(r.fold)
          val base = r.fold * C
          var c = 0
          while (c < C) {
            acc(base + c) += r.w * loss(r.y, r.eta(a(c) + r.off, b(c)))
            c += 1
          }
          acc
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
        depth = 2)
      Array.tabulate(nfolds, C)((f, c) => sums(f * C + c) / s.folds(f).sw)
    }
  }

  /** Held-out error of one row with response y at linear predictor η:
    * deviance (binomial: log-loss with μ clamped to [1e-5, 1 − 1e-5];
    * poisson: the unit deviance), mse and mae (binomial on the one-hot
    * form, 2(μ − y)² and 2|μ − y|), class (binomial, μ > 0.5). */
  private def heldOutLoss(fam: SgdNet.IrlsFamily,
                          measure: String): (Double, Double) => Double = {
    def mu(eta: Double): Double = fam.mean(fam.clampEta(eta))
    val k = if (fam == SgdNet.Binomial) 2.0 else 1.0
    (measure, fam) match {
      case ("deviance", SgdNet.Binomial) => (y, eta) => {
        val mc = math.min(math.max(mu(eta), 1e-5), 1.0 - 1e-5)
        -2.0 * (y * math.log(mc) + (1 - y) * math.log(1 - mc))
      }
      case ("deviance", _) => (y, eta) => fam.unitDeviance(y, eta)
      case ("mse", _) => (y, eta) => { val d = mu(eta) - y; k * d * d }
      case ("mae", _) => (y, eta) => k * math.abs(mu(eta) - y)
      case ("class", SgdNet.Binomial) => (y, eta) =>
        if ((if (mu(eta) > 0.5) 1.0 else 0.0) != y) 1.0 else 0.0
      case _ => // unreachable: every entry validates its measures
        throw new IllegalArgumentException(s"unknown ${fam.name} CV measure $measure")
    }
  }

  // ------------------------------------------- offset CV (cv.glmnet offset)

  /** k-fold CV WITH a linear-predictor offset (cv.glmnet `offset`,
    * round 16 — glmnet threads the offset through every fold fit AND
    * through held-out prediction via newoffset; the reference leaves
    * offset as a TODO, R/sgdnet.R:341, so this follows the glmnet
    * semantics [[SgdNet.fitWithOffset]] implements):
    *
    *  - gaussian: reduces EXACTLY to the plain CV on y − offset — with
    *    the identity link the prediction adds the offset back, so every
    *    held-out residual (hence deviance/mse/mae) is the
    *    adjusted-response residual. Delegates to [[fit]] /
    *    [[fitWeighted]], one-pass moment CV included.
    *  - binomial / poisson: SHARED offset-IRLS chassis — all folds
    *    advance through ONE treeAggregate per Newton round at
    *    η = off + a0_f + xs·β_f (the `SgdNet.fitIrls` offset
    *    algebra, fold-tiled), per-fold offset null
    *    intercepts from subtracted train sums (poisson closed-form
    *    ln(Σv·y/Σv·e^off); binomial via a fold-tiled Newton loop — the
    *    offset null has no closed form), the offset-corrected
    *    lambda-path gradient, and held-out scores with the offset in
    *    the prediction. Binomial adds class|auc measures.
    *
    * `weightCol` adds frequency weights with the per-fold sum-to-n_train
    * renormalization (the [[fitWeighted]] convention). Same family
    * surface as [[SgdNet.fitWithOffset]]. */
  def fitWithOffset(df: DataFrame, featureCols: Seq[String], labelCol: String,
                    offsetCol: String,
                    params: SgdNetParams = SgdNetParams(),
                    nfolds: Int = 10,
                    measure: String = "deviance",
                    foldCol: Column = null,
                    alphas: Seq[Double] = Seq.empty,
                    weightCol: String = null): CvResult = {
    SgdNet.requireGramP(featureCols.size)
    require(nfolds >= 2, "nfolds must be at least 2")
    val okMeasures = params.family match {
      case "binomial" => Set("deviance", "mse", "mae", "class", "auc")
      case _          => Set("deviance", "mse", "mae")
    }
    require(okMeasures.contains(measure),
      s"offset ${params.family} CV supports " +
        s"${okMeasures.toSeq.sorted.mkString("|")}, not '$measure'")
    params.family match {
      case "gaussian" =>
        // replace the label IN PLACE (keep every other column: a
        // caller-supplied foldCol may reference any of them)
        val adj = df.withColumn(labelCol,
          col(labelCol).cast("double") - col(offsetCol).cast("double"))
        if (weightCol == null)
          fit(adj, featureCols, Seq(labelCol), params, nfolds, alphas,
            measure, foldCol)
        else
          fitWeighted(adj, featureCols, labelCol, weightCol, params, nfolds,
            measure, foldCol, alphas)
      case "binomial" | "poisson" =>
        val paths = cvIrls(df, labelCol, params, nfolds,
          if (alphas.nonEmpty) alphas else Seq(params.alpha), measure,
          weighted = weightCol != null, hasOffset = true, featureCols.toArray,
          denseIrlsRows(df, featureCols, labelCol, nfolds, foldCol, weightCol,
            offsetCol))
        val best = paths.minBy(p => p.cvm.min)
        CvResult(paths, best)
      case f => throw new IllegalArgumentException(
        s"offset CV supports gaussian, binomial, poisson, not $f " +
          "(the SgdNet.fitWithOffset surface)")
    }
  }.copy(offsetFit = true) // predictAt must get newoffset (glmnet)

  /** Multi-response (mgaussian) CV with a per-response OFFSET matrix
    * (round 16 — cv.glmnet offset for family = "mgaussian"): identity
    * link makes this exact by delegation, fitting y_t − offset_t
    * through the plain one-pass mgaussian moment CV; the held-out
    * measures of the adjusted problem ARE the newoffset-scored
    * measures of the offset problem (the residual y − off − a0 − xβ
    * is identical). `weightCol` routes through the weighted
    * multi-response CV. */
  def fitMultiWithOffset(df: DataFrame, featureCols: Seq[String],
                         labelCols: Seq[String], offsetCols: Seq[String],
                         params: SgdNetParams = SgdNetParams(),
                         nfolds: Int = 10,
                         measure: String = "deviance",
                         foldCol: Column = null,
                         alphas: Seq[Double] = Seq.empty,
                         weightCol: String = null): CvResult = {
    SgdNet.requireGramP(featureCols.size)
    require(params.family == "mgaussian" || params.family == "gaussian",
      s"fitMultiWithOffset is the identity-link (gaussian/mgaussian) CV route, not ${params.family}")
    require(offsetCols.size == labelCols.size,
      s"need one offset column per response (${labelCols.size}), got ${offsetCols.size}")
    // replace each label IN PLACE (a caller-supplied foldCol may
    // reference any column)
    val adj = labelCols.zip(offsetCols).foldLeft(df) { case (d, (l, o)) =>
      d.withColumn(l, col(l).cast("double") - col(o).cast("double"))
    }
    val r =
      if (weightCol == null)
        fit(adj, featureCols, labelCols, params, nfolds, alphas, measure,
          foldCol)
      else
        fitWeightedMulti(adj, featureCols, labelCols, weightCol, params,
          nfolds, measure, foldCol, alphas)
    r.copy(offsetFit = true) // predictAt must get newoffset (glmnet)
  }

  // ------------------------------------------ multinomial, shared-pass CV

  /** All k fold-models advance TOGETHER through the softmax FISTA loop:
    * each gradient round is ONE `treeAggregate` computing every
    * unconverged fold's standardized softmax gradient (a row contributes
    * to all train sets except its own fold), and the FULL-data model
    * rides the same passes as virtual fold k (every row contributes —
    * "train = total minus an empty fold"). This is the multinomial twin
    * of [[cvIrls]]: CV costs ~one multinomial fit's worth of
    * data passes INCLUDING the full path fit, not k+1 of them — the
    * shape that holds at 100 TB. Driver state: (k+1) fold-models of
    * K x p coefficients each.
    *
    * The per-fold solver arithmetic is identical to
    * `SgdNet.fitMultinomialCore` (same standardization from subtracted
    * fold moments, same Lipschitz step from the fold's gram, same
    * entrywise / grouped prox, same O'Donoghue–Candès gradient restart),
    * so each fold's path matches a standalone fit on its train subset up
    * to per-fold-then-merge summation order of the statistics. Held-out
    * scores for all (fold, lambda) come from one final scoring pass with
    * the semantics of [[scoreAllLambdas]] (deviance clamps P to
    * [1e-5, 1-1e-5]; mse/mae are one-hot row sums across classes; class
    * is argmax-vs-label, largest class label winning exact ties like
    * classCol's greatest(struct(eta, cls))). */
  private def cvMultinomialShared(df: DataFrame, featureCols: Seq[String],
                                  labelCol: String, params: SgdNetParams,
                                  nfolds: Int, foldCol: Column = null,
                                  measure: String = "deviance"): CvPath = {
    if (measure == "auc")
      throw new IllegalArgumentException(
        s"auc requires the binomial family, not ${params.family}")
    SgdNet.requireNoZeroPf(params, "shared multinomial CV")
    val p = featureCols.size
    val classes = SgdNet.multinomialClasses(df, labelCol)
    val k = classes.length
    val classIdx = classes.zipWithIndex.toMap
    require(params.penaltyFactor == null ||
      (params.penaltyFactor.length == p && params.penaltyFactor.forall(_ >= 0)),
      "penaltyFactor must have one non-negative entry per feature")

    val hashCols = (featureCols :+ labelCol).map(col)
    val sc0 = df.sparkSession.sparkContext
    val bClassIdx = sc0.broadcast(classIdx)
    val rows = df
      .withColumn("__fold", foldExpr(foldCol, hashCols, nfolds).cast("int"))
      .select((featureCols.map(c => col(c).cast("double")) :+
        col(labelCol).cast("string") :+ col("__fold")): _*)
      .rdd.map { r =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = r.getDouble(j); j += 1 }
        (r.getInt(p + 1), x, bClassIdx.value(r.getString(p)))
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      // fold count INCLUDING the virtual full-data fold (index nfolds)
      val F = nfolds + 1
      val zero = Array.fill(nfolds)(new GramStats(p, k))
      val perFold = rows.treeAggregate(zero)(
        (acc, t) => {
          val y = new Array[Double](k); y(t._3) = 1.0
          acc(t._1).add(t._2, y); acc
        },
        (a, b) => { var i = 0; while (i < nfolds) { a(i).merge(b(i)); i += 1 }; a },
        depth = 2)
      requireNonEmptyFolds(perFold.map(_.n), nfolds)
      val total = new GramStats(p, k)
      perFold.foreach(total.merge)
      // index nfolds subtracts an EMPTY fold: train = all rows
      val perFoldExt = perFold :+ new GramStats(p, k)
      val trainStats = Array.tabulate(F) { f =>
        val tr = new GramStats(p, k).merge(total).subtract(perFoldExt(f))
        SufficientStats.standardize(tr, params.standardize, params.intercept)
      }
      val nTrain = Array.tabulate(F)(f => (total.n - perFoldExt(f).n).toDouble)
      // lambda grid: user-supplied, or the path from the FULL-data
      // standardized gradient (what a standalone fit would build)
      val grouped = params.typeMultinomial == "grouped"
      val lambdas =
        if (params.lambda != null) params.lambda
        else {
          val minRatio = if (params.lambdaMinRatio.isNaN)
            LambdaPath.defaultMinRatio(total.n, p) else params.lambdaMinRatio
          val bArg = if (grouped) trainStats(nfolds).b
            else Array(trainStats(nfolds).b.flatten)
          // ungrouped flattens b t-major, so pf tiles per class to match
          val pfArg = if (params.penaltyFactor == null) null
            else if (grouped) params.penaltyFactor
            else Array.tabulate(k * p)(i => params.penaltyFactor(i % p))
          LambdaPath.build(bArg, params.alpha, params.nlambda, minRatio,
            pfArg)
        }
      val means = trainStats.map(st =>
        if (params.intercept) st.xMean else new Array[Double](p))
      val scales = trainStats.map(st =>
        if (params.standardize) st.xSd else Array.fill(p)(1.0))
      // per-fold box limits on each fold's own standardized scale
      // (grouped uses the boxed group prox since round 16)
      val boundsF = scales.map(s => SgdNet.boundsStd(params, s, 1.0))
      val pf = params.penaltyFactor
      // per-fold Lipschitz step from the fold's standardized gram
      val steps = trainStats.map(st => 1.0 / (0.5 * LinAlg.maxEig(st.gram) + 1e-9))
      val sc = rows.sparkContext
      val bMeans = sc.broadcast(means)
      val bScales = sc.broadcast(scales)

      val L = lambdas.length
      // per-fold FISTA iterates (standardized scale)
      val beta = Array.fill(F)(Array.ofDim[Double](k, p))
      val a0 = Array.tabulate(F) { f =>
        Array.tabulate(k)(t => if (params.intercept)
          math.log(math.max(trainStats(f).yMean(t), 1e-12)) else 0.0)
      }
      // original-scale coefficients per (fold, lambda) for scoring
      val a0Out = Array.ofDim[Double](F, L, k)
      val betaOut = Array.ofDim[Double](F, L, k, p)
      var sharedPasses = 0

      for (l <- 0 until L) {
        val lam = lambdas(l)
        val active = Array.fill(F)(true)
        // FISTA momentum state per fold, reset at each lambda
        val yB = beta.map(_.map(_.clone()))
        val yA = a0.map(_.clone())
        val tk = Array.fill(F)(1.0)
        var iter = 0
        // honor the user's maxit exactly (no hidden clamp): the batch fit
        // and this path must truncate identically for parity
        while (iter < params.maxit && active.exists(identity)) {
          val activeSnap = active.clone()
          val yBSnap = yB.map(_.map(_.clone()))
          val yASnap = yA.map(_.clone())
          sharedPasses += 1
          // ONE pass: softmax gradient accumulations for all active
          // folds (the virtual full-data fold never matches rowFold, so
          // every row feeds it). Layout: [f][t*(p+1)] residual sum,
          // [f][t*(p+1)+1+j] residual * xs_j sums.
          val acc = rows.treeAggregate(new Array[Double](F * k * (p + 1)))(
            (s, row) => {
              val (rowFold, xr, yIdx) = row
              var f = 0
              while (f < F) {
                if (f != rowFold && activeSnap(f)) {
                  val m = bMeans.value(f); val sl = bScales.value(f)
                  val bf = yBSnap(f); val af = yASnap(f)
                  val xs = new Array[Double](p)
                  var j = 0
                  while (j < p) { xs(j) = (xr(j) - m(j)) / sl(j); j += 1 }
                  val eta = new Array[Double](k)
                  var mx = Double.NegativeInfinity
                  var t = 0
                  while (t < k) {
                    var e = af(t)
                    j = 0
                    while (j < p) { e += bf(t)(j) * xs(j); j += 1 }
                    eta(t) = e; if (e > mx) mx = e
                    t += 1
                  }
                  var z = 0.0
                  t = 0
                  while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
                  val base = f * k * (p + 1)
                  t = 0
                  while (t < k) {
                    val r = eta(t) / z - (if (t == yIdx) 1.0 else 0.0)
                    s(base + t * (p + 1)) += r
                    j = 0
                    while (j < p) { s(base + t * (p + 1) + 1 + j) += r * xs(j); j += 1 }
                    t += 1
                  }
                }
                f += 1
              }
              s
            },
            (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
            depth = 2)
          // driver-side FISTA prox step per active fold (identical
          // arithmetic to fitMultinomialCore's)
          for (f <- 0 until F if active(f)) {
            val base = f * k * (p + 1)
            val ninv = 1.0 / nTrain(f)
            val grad = Array.tabulate(k, p)((t, j) =>
              acc(base + t * (p + 1) + 1 + j) * ninv)
            val gradA0 = Array.tabulate(k)(t => acc(base + t * (p + 1)) * ninv)
            val step = steps(f)
            val (lo, up) = boundsF(f)
            val nb = Array.ofDim[Double](k, p)
            val na = new Array[Double](k)
            var maxD = 0.0
            for (t <- 0 until k) {
              na(t) = if (params.intercept) yA(f)(t) - step * gradA0(t) else 0.0
              val d0 = math.abs(na(t) - a0(f)(t)); if (d0 > maxD) maxD = d0
            }
            for (j <- 0 until p) {
              val pfj = if (pf == null) 1.0 else pf(j)
              if (grouped) {
                val v = Array.tabulate(k)(t => yB(f)(t)(j) - step * grad(t)(j))
                val g = step * lam * params.alpha * pfj
                if (lo != null || up != null) {
                  // boxed group prox (round 16): bisection on the group
                  // norm — see LinAlg.boxedGroupProx
                  val q = 1.0 + step * lam * (1.0 - params.alpha) * pfj
                  val loJ = Array.fill(k)(
                    if (lo == null) Double.NegativeInfinity else lo(j))
                  val upJ = Array.fill(k)(
                    if (up == null) Double.PositiveInfinity else up(j))
                  val u = LinAlg.boxedGroupProx(v, q, g, loJ, upJ,
                    new Array[Double](k))
                  for (t <- 0 until k) {
                    nb(t)(j) = u(t)
                    val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                  }
                } else {
                  var nrm = 0.0
                  v.foreach(x => nrm += x * x)
                  nrm = math.sqrt(nrm)
                  val shrink =
                    if (nrm > g)
                      (1.0 - g / nrm) /
                        (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                    else 0.0
                  for (t <- 0 until k) {
                    nb(t)(j) = v(t) * shrink
                    val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                  }
                }
              } else {
                for (t <- 0 until k) {
                  val v = yB(f)(t)(j) - step * grad(t)(j)
                  var x = LinAlg.softThreshold(v,
                    step * lam * params.alpha * pfj) /
                    (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                  if (lo != null && x < lo(j)) x = lo(j)
                  if (up != null && x > up(j)) x = up(j)
                  nb(t)(j) = x
                  val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                }
              }
            }
            // gradient-based adaptive restart (O'Donoghue & Candès)
            var restartDot = 0.0
            for (t <- 0 until k; j <- 0 until p)
              restartDot += grad(t)(j) * (nb(t)(j) - beta(f)(t)(j))
            for (t <- 0 until k) restartDot += gradA0(t) * (na(t) - a0(f)(t))
            val tk1 = if (restartDot > 0) 1.0
              else (1.0 + math.sqrt(1.0 + 4.0 * tk(f) * tk(f))) / 2.0
            val mom = if (restartDot > 0) 0.0 else (tk(f) - 1.0) / tk1
            for (t <- 0 until k; j <- 0 until p)
              yB(f)(t)(j) = nb(t)(j) + mom * (nb(t)(j) - beta(f)(t)(j))
            for (t <- 0 until k) yA(f)(t) = na(t) + mom * (na(t) - a0(f)(t))
            beta(f) = nb; a0(f) = na; tk(f) = tk1
            if (maxD < math.max(params.thresh * 1e-3, 1e-8)) active(f) = false
          }
          iter += 1
        }
        for (f <- 0 until F) {
          for (t <- 0 until k; j <- 0 until p)
            betaOut(f)(l)(t)(j) = beta(f)(t)(j) / scales(f)(j)
          for (t <- 0 until k)
            a0Out(f)(l)(t) = if (params.intercept)
              a0(f)(t) - (0 until p).map(j => betaOut(f)(l)(t)(j) * means(f)(j)).sum
            else a0(f)(t)
        }
      }

      // the full-data model assembled from the virtual fold's path — one
      // extra scoring pass for its deviance ratios, nothing else
      val a0Full = Array.tabulate(L)(l => a0Out(nfolds)(l).clone())
      val betaFull = Array.tabulate(L)(l => betaOut(nfolds)(l).map(_.clone()))
      val priors = trainStats(nfolds).yMean
      val nulldev = -2.0 * total.n * priors.map(pr => SgdNet.safeXLog(pr, pr)).sum
      val onehotRows = rows.map { t =>
        val y = new Array[Double](k); y(t._3) = 1.0; (t._2, y)
      }
      val devs = SgdNet.multinomDeviance(onehotRows, a0Full, betaFull, k)
      val devRatio = devs.map(d => SgdNetModel.devRatio(d, nulldev))
      val full = new SgdNetModel("multinomial", featureCols.toArray,
        Array(labelCol), classes, lambdas, a0Full, betaFull, nulldev,
        devRatio, total.n, sharedPasses + 2, params)

      // held-out scoring per (fold, lambda) — every row is scored by its
      // OWN fold's model (trained without it)
      val bA0 = sc.broadcast(a0Out)
      val bBeta = sc.broadcast(betaOut)
      val sums = rows.treeAggregate(new Array[Double](nfolds * L))(
        (s, row) => {
          val (f, x, yIdx) = row
          var l = 0
          while (l < L) {
            val al = bA0.value(f)(l); val bl = bBeta.value(f)(l)
            val eta = new Array[Double](k)
            var mx = Double.NegativeInfinity
            var t = 0
            while (t < k) {
              var e = al(t)
              var j = 0
              while (j < p) { e += bl(t)(j) * x(j); j += 1 }
              eta(t) = e; if (e > mx) mx = e
              t += 1
            }
            var z = 0.0
            t = 0
            while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
            s(f * L + l) += (measure match {
              case "class" =>
                // argmax with the LARGEST class index winning exact ties
                // (>=): classes are sorted, so this matches classCol's
                // greatest(struct(eta, cls)) tie-break exactly
                var best = 0
                t = 1
                while (t < k) { if (eta(t) >= eta(best)) best = t; t += 1 }
                if (best != yIdx) 1.0 else 0.0
              case "mse" =>
                var acc2 = 0.0
                t = 0
                while (t < k) {
                  val d = eta(t) / z - (if (t == yIdx) 1.0 else 0.0)
                  acc2 += d * d; t += 1
                }
                acc2
              case "mae" =>
                var acc2 = 0.0
                t = 0
                while (t < k) {
                  acc2 += math.abs(eta(t) / z - (if (t == yIdx) 1.0 else 0.0)); t += 1
                }
                acc2
              case "deviance" =>
                val pt = math.min(math.max(eta(yIdx) / z, 1e-5), 1.0 - 1e-5)
                -2.0 * math.log(pt)
              case other => // unreachable: fit() validates measures
                throw new IllegalArgumentException(s"unknown measure $other")
            })
            l += 1
          }
          s
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
        depth = 2)
      val foldScores = Array.tabulate(nfolds, L)((f, l) =>
        sums(f * L + l) / perFold(f).n.toDouble)
      summarize(params.alpha, lambdas, foldScores, full)
    } finally rows.unpersist(blocking = false)
  }

  /** Multinomial CV WITH a per-class offset matrix (round 16 —
    * cv.glmnet `offset` for family = "multinomial"; one offset column
    * per class in sorted-label order): the [[cvMultinomialShared]]
    * shared-pass FISTA chassis with the offset algebra — per-fold
    * offset nulls from ONE fold-tiled Newton loop (k-gradient + k×k
    * softmax Hessian for every fold per pass; the mean-offset-shifted
    * log-prior starts are exact for constant offsets), the
    * offset-corrected null gradient driving the lambda path, the
    * row's offset in every fold's eta during the shared FISTA rounds,
    * newoffset-scored held-out measures, and optional frequency
    * weights (Σv·err/Σv, per-fold sum-to-n_train renormalization). */
  def fitMultinomialWithOffset(df: DataFrame, featureCols: Seq[String],
                               labelCol: String, offsetCols: Seq[String],
                               params: SgdNetParams = SgdNetParams(family = "multinomial"),
                               nfolds: Int = 10,
                               measure: String = "deviance",
                               foldCol: Column = null,
                               alphas: Seq[Double] = Seq.empty,
                               weightCol: String = null): CvResult = {
    SgdNet.requireGramP(featureCols.size)
    require(nfolds >= 2, "nfolds must be at least 2")
    require(params.family == "multinomial",
      s"fitMultinomialWithOffset is the multinomial CV route, not ${params.family}")
    require(Set("deviance", "mse", "mae", "class").contains(measure),
      s"offset multinomial CV supports class|deviance|mae|mse, not '$measure'")
    val alphaGrid = if (alphas.nonEmpty) alphas else Seq(params.alpha)
    val paths = alphaGrid.map(a => cvOffsetMultinomialShared(df, featureCols,
      labelCol, offsetCols, params.copy(alpha = a), nfolds, foldCol, measure,
      weightCol))
    val best = paths.minBy(p => p.cvm.min)
    CvResult(paths, best, offsetFit = true)
  }

  private def cvOffsetMultinomialShared(df: DataFrame,
                                        featureCols: Seq[String],
                                        labelCol: String,
                                        offsetCols: Seq[String],
                                        params: SgdNetParams, nfolds: Int,
                                        foldCol: Column, measure: String,
                                        weightCol: String): CvPath = {
    SgdNet.requireNoZeroPf(params, "shared offset multinomial CV")
    val p = featureCols.size
    val weighted = weightCol != null
    val classes = SgdNet.multinomialClasses(df, labelCol)
    val k = classes.length
    require(offsetCols.size == k,
      s"multinomial offset needs one column per class (nclass = $k), got ${offsetCols.size}")
    val classIdx = classes.zipWithIndex.toMap
    require(params.penaltyFactor == null ||
      (params.penaltyFactor.length == p && params.penaltyFactor.forall(_ >= 0)),
      "penaltyFactor must have one non-negative entry per feature")

    val hashCols = (featureCols :+ labelCol).map(col)
    val sc0 = df.sparkSession.sparkContext
    val bClassIdx = sc0.broadcast(classIdx)
    val wCol = if (weighted) col(weightCol).cast("double") else lit(1.0)
    val rows0 = df
      .withColumn("__fold", foldExpr(foldCol, hashCols, nfolds).cast("int"))
      .select((featureCols.map(c => col(c).cast("double")) :+
        col(labelCol).cast("string") :+ col("__fold") :+ wCol) ++
        offsetCols.map(c => col(c).cast("double")): _*)
      .rdd.map { r =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = r.getDouble(j); j += 1 }
        val off = Array.tabulate(k)(t => r.getDouble(p + 3 + t))
        (r.getInt(p + 1), x, bClassIdx.value(r.getString(p)), off,
          r.getDouble(p + 2))
      }
    val rows = (if (weighted)
        rows0.map { t => require(t._5 >= 0, "weights must be non-negative"); t }
          .filter(_._5 > 0)
      else rows0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      val F = nfolds + 1
      // ONE pass: per-fold RAW-v moments + Σv + per-class Σv·off
      val zero = (Array.fill(nfolds)(new GramStats(p, k)),
        new Array[Double](nfolds), Array.fill(nfolds)(new Array[Double](k)))
      val (perFold, wFold, oFold) = rows.treeAggregate(zero)(
        (acc, t) => {
          val y = new Array[Double](k); y(t._3) = 1.0
          acc._1(t._1).addWeighted(t._2, y, t._5)
          acc._2(t._1) += t._5
          var u = 0
          while (u < k) { acc._3(t._1)(u) += t._5 * t._4(u); u += 1 }
          acc
        },
        (a, b) => {
          var i = 0
          while (i < nfolds) {
            a._1(i).merge(b._1(i)); a._2(i) += b._2(i)
            var u = 0
            while (u < k) { a._3(i)(u) += b._3(i)(u); u += 1 }
            i += 1
          }
          a
        }, depth = 2)
      requireNonEmptyFolds(perFold.map(_.n), nfolds)
      val total = new GramStats(p, k)
      perFold.foreach(total.merge)
      val wTotal = wFold.sum
      val oTotal = Array.tabulate(k)(t => oFold.map(_(t)).sum)
      val perFoldExt = perFold :+ new GramStats(p, k)
      val wFoldExt = wFold :+ 0.0
      val oFoldExt = oFold :+ new Array[Double](k)
      val nTrain = Array.tabulate(F)(f => (total.n - perFoldExt(f).n).toDouble)
      val norms = Array.tabulate(F)(f => nTrain(f) / (wTotal - wFoldExt(f)))
      val trainStats = Array.tabulate(F) { f =>
        val tr = new GramStats(p, k).merge(total).subtract(perFoldExt(f))
          .scaleWeights(norms(f))
        SufficientStats.standardize(tr, params.standardize, params.intercept)
      }
      var sharedPasses = 1

      // per-fold offset nulls: ONE fold-tiled Newton loop (k-gradient
      // + k×k Hessian per fold per pass), started at the mean-offset-
      // shifted log-priors (exact for constant offsets)
      val a0Null = Array.tabulate(F) { f =>
        val tw = wTotal - wFoldExt(f)
        Array.tabulate(k)(t =>
          if (params.intercept)
            math.log(math.max(trainStats(f).yMean(t), 1e-12)) -
              (oTotal(t) - oFoldExt(f)(t)) / tw
          else 0.0)
      }
      if (params.intercept) {
        val cell = k + k * k
        var it = 0
        var done = false
        while (it < 50 && !done) {
          val a0Snap = a0Null.map(_.clone())
          val acc = rows.treeAggregate(new Array[Double](F * cell))(
            (s, t) => {
              val (rowFold, _, yIdx, off, v) = t
              var f = 0
              while (f < F) {
                if (f != rowFold) {
                  val af = a0Snap(f)
                  val pr = new Array[Double](k)
                  var mx = Double.NegativeInfinity
                  var u = 0
                  while (u < k) {
                    pr(u) = af(u) + off(u); if (pr(u) > mx) mx = pr(u); u += 1
                  }
                  var z = 0.0
                  u = 0
                  while (u < k) { pr(u) = math.exp(pr(u) - mx); z += pr(u); u += 1 }
                  val base = f * cell
                  u = 0
                  while (u < k) {
                    pr(u) /= z
                    s(base + u) += v * (pr(u) - (if (u == yIdx) 1.0 else 0.0))
                    var w2 = 0
                    while (w2 < k) {
                      s(base + k + u * k + w2) += v *
                        (if (u == w2) pr(u) * (1.0 - pr(u)) else -pr(u) * pr(w2))
                      w2 += 1
                    }
                    u += 1
                  }
                }
                f += 1
              }
              s
            },
            (a, b) => {
              var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
            }, depth = 2)
          sharedPasses += 1
          var mx = 0.0
          for (f <- 0 until F) {
            val tw = wTotal - wFoldExt(f)
            val base = f * cell
            val gvec = Array.tabulate(k)(t => acc(base + t) / tw)
            val gInf = gvec.map(math.abs).max
            if (gInf > mx) mx = gInf
            if (gInf >= 1e-12) {
              val h = Array.tabulate(k, k)((i2, j2) =>
                acc(base + k + i2 * k + j2) / tw + (if (i2 == j2) 1e-9 else 0.0))
              val d = LinAlg.solve(h, gvec)
              var t = 0
              while (t < k) { a0Null(f)(t) -= d(t); t += 1 }
            }
          }
          it += 1
          if (mx < 1e-12) done = true
        }
      }

      val means = trainStats.map(st =>
        if (params.intercept) st.xMean else new Array[Double](p))
      val scales = trainStats.map(st =>
        if (params.standardize) st.xSd else Array.fill(p)(1.0))
      val boundsF = scales.map(s => SgdNet.boundsStd(params, s, 1.0))
      val pf = params.penaltyFactor
      val grouped = params.typeMultinomial == "grouped"
      val steps = trainStats.map(st => 1.0 / (0.5 * LinAlg.maxEig(st.gram) + 1e-9))
      val sc = rows.sparkContext
      val bMeans = sc.broadcast(means)
      val bScales = sc.broadcast(scales)
      val bNorms = sc.broadcast(norms)

      val lambdas =
        if (params.lambda != null) params.lambda
        else {
          // offset-corrected null gradient on the full data (virtual
          // fold): b_tj = (1/n)Σ vn·(y − p_null)·xs
          val minRatio = if (params.lambdaMinRatio.isNaN)
            LambdaPath.defaultMinRatio(total.n, p) else params.lambdaMinRatio
          val a0N = a0Null(nfolds)
          val mF = means(nfolds); val sF = scales(nfolds)
          val nrm = norms(nfolds)
          val acc = rows.treeAggregate(new Array[Double](k * p))(
            (s, t) => {
              val (_, xr, yIdx, off, v) = t
              val pr = new Array[Double](k)
              var mx = Double.NegativeInfinity
              var u = 0
              while (u < k) {
                pr(u) = a0N(u) + off(u); if (pr(u) > mx) mx = pr(u); u += 1
              }
              var z = 0.0
              u = 0
              while (u < k) { pr(u) = math.exp(pr(u) - mx); z += pr(u); u += 1 }
              u = 0
              while (u < k) {
                val r = v * nrm * ((if (u == yIdx) 1.0 else 0.0) - pr(u) / z)
                var j = 0
                while (j < p) {
                  s(u * p + j) += r * (xr(j) - mF(j)) / sF(j); j += 1
                }
                u += 1
              }
              s
            },
            (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
            depth = 2)
          sharedPasses += 1
          val bNull = Array.tabulate(k, p)((t, j) =>
            acc(t * p + j) / nTrain(nfolds))
          val bArg = if (grouped) bNull else Array(bNull.flatten)
          val pfArg = if (pf == null) null
            else if (grouped) pf
            else Array.tabulate(k * p)(i => pf(i % p))
          LambdaPath.build(bArg, params.alpha, params.nlambda, minRatio, pfArg)
        }

      val L = lambdas.length
      val beta = Array.fill(F)(Array.ofDim[Double](k, p))
      val a0 = a0Null.map(_.clone())
      val a0Out = Array.ofDim[Double](F, L, k)
      val betaOut = Array.ofDim[Double](F, L, k, p)

      for (l <- 0 until L) {
        val lam = lambdas(l)
        val active = Array.fill(F)(true)
        val yB = beta.map(_.map(_.clone()))
        val yA = a0.map(_.clone())
        val tk = Array.fill(F)(1.0)
        var iter = 0
        while (iter < params.maxit && active.exists(identity)) {
          val activeSnap = active.clone()
          val yBSnap = yB.map(_.map(_.clone()))
          val yASnap = yA.map(_.clone())
          sharedPasses += 1
          // ONE pass: offset softmax gradients for all active folds
          val acc = rows.treeAggregate(new Array[Double](F * k * (p + 1)))(
            (s, row) => {
              val (rowFold, xr, yIdx, off, v) = row
              var f = 0
              while (f < F) {
                if (f != rowFold && activeSnap(f)) {
                  val m = bMeans.value(f); val sl = bScales.value(f)
                  val bf = yBSnap(f); val af = yASnap(f)
                  val vn = v * bNorms.value(f)
                  val xs = new Array[Double](p)
                  var j = 0
                  while (j < p) { xs(j) = (xr(j) - m(j)) / sl(j); j += 1 }
                  val eta = new Array[Double](k)
                  var mx = Double.NegativeInfinity
                  var t = 0
                  while (t < k) {
                    var e = af(t) + off(t)
                    j = 0
                    while (j < p) { e += bf(t)(j) * xs(j); j += 1 }
                    eta(t) = e; if (e > mx) mx = e
                    t += 1
                  }
                  var z = 0.0
                  t = 0
                  while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
                  val base = f * k * (p + 1)
                  t = 0
                  while (t < k) {
                    val r = vn * (eta(t) / z - (if (t == yIdx) 1.0 else 0.0))
                    s(base + t * (p + 1)) += r
                    j = 0
                    while (j < p) { s(base + t * (p + 1) + 1 + j) += r * xs(j); j += 1 }
                    t += 1
                  }
                }
                f += 1
              }
              s
            },
            (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
            depth = 2)
          // driver-side FISTA prox per active fold (fitMultinomialCore's
          // arithmetic, identical to cvMultinomialShared)
          for (f <- 0 until F if active(f)) {
            val base = f * k * (p + 1)
            val ninv = 1.0 / nTrain(f)
            val grad = Array.tabulate(k, p)((t, j) =>
              acc(base + t * (p + 1) + 1 + j) * ninv)
            val gradA0 = Array.tabulate(k)(t => acc(base + t * (p + 1)) * ninv)
            val step = steps(f)
            val (lo, up) = boundsF(f)
            val nb = Array.ofDim[Double](k, p)
            val na = new Array[Double](k)
            var maxD = 0.0
            for (t <- 0 until k) {
              na(t) = if (params.intercept) yA(f)(t) - step * gradA0(t) else 0.0
              val d0 = math.abs(na(t) - a0(f)(t)); if (d0 > maxD) maxD = d0
            }
            for (j <- 0 until p) {
              val pfj = if (pf == null) 1.0 else pf(j)
              if (grouped) {
                val v = Array.tabulate(k)(t => yB(f)(t)(j) - step * grad(t)(j))
                val g = step * lam * params.alpha * pfj
                if (lo != null || up != null) {
                  val q = 1.0 + step * lam * (1.0 - params.alpha) * pfj
                  val loJ = Array.fill(k)(
                    if (lo == null) Double.NegativeInfinity else lo(j))
                  val upJ = Array.fill(k)(
                    if (up == null) Double.PositiveInfinity else up(j))
                  val u = LinAlg.boxedGroupProx(v, q, g, loJ, upJ,
                    new Array[Double](k))
                  for (t <- 0 until k) {
                    nb(t)(j) = u(t)
                    val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                  }
                } else {
                  var nrm = 0.0
                  v.foreach(x => nrm += x * x)
                  nrm = math.sqrt(nrm)
                  val shrink =
                    if (nrm > g)
                      (1.0 - g / nrm) /
                        (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                    else 0.0
                  for (t <- 0 until k) {
                    nb(t)(j) = v(t) * shrink
                    val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                  }
                }
              } else {
                for (t <- 0 until k) {
                  val v = yB(f)(t)(j) - step * grad(t)(j)
                  var x = LinAlg.softThreshold(v,
                    step * lam * params.alpha * pfj) /
                    (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                  if (lo != null && x < lo(j)) x = lo(j)
                  if (up != null && x > up(j)) x = up(j)
                  nb(t)(j) = x
                  val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                }
              }
            }
            var restartDot = 0.0
            for (t <- 0 until k; j <- 0 until p)
              restartDot += grad(t)(j) * (nb(t)(j) - beta(f)(t)(j))
            for (t <- 0 until k) restartDot += gradA0(t) * (na(t) - a0(f)(t))
            val tk1 = if (restartDot > 0) 1.0
              else (1.0 + math.sqrt(1.0 + 4.0 * tk(f) * tk(f))) / 2.0
            val mom = if (restartDot > 0) 0.0 else (tk(f) - 1.0) / tk1
            for (t <- 0 until k; j <- 0 until p)
              yB(f)(t)(j) = nb(t)(j) + mom * (nb(t)(j) - beta(f)(t)(j))
            for (t <- 0 until k) yA(f)(t) = na(t) + mom * (na(t) - a0(f)(t))
            beta(f) = nb; a0(f) = na; tk(f) = tk1
            if (maxD < math.max(params.thresh * 1e-3, 1e-8)) active(f) = false
          }
          iter += 1
        }
        for (f <- 0 until F) {
          for (t <- 0 until k; j <- 0 until p)
            betaOut(f)(l)(t)(j) = beta(f)(t)(j) / scales(f)(j)
          for (t <- 0 until k)
            a0Out(f)(l)(t) = if (params.intercept)
              a0(f)(t) - (0 until p).map(j => betaOut(f)(l)(t)(j) * means(f)(j)).sum
            else a0(f)(t)
        }
      }

      // full-data model (virtual fold) + offset deviance pass: the L
      // path deviances AND the offset-null deviance in one scan
      val a0Full = Array.tabulate(L)(l => a0Out(nfolds)(l).clone())
      val betaFull = Array.tabulate(L)(l => betaOut(nfolds)(l).map(_.clone()))
      val a0NullFull = a0Null(nfolds)
      val normFull = norms(nfolds)
      val devs = rows.treeAggregate(new Array[Double](L + 1))(
        (acc, row) => {
          val (_, xr, yIdx, off, v) = row
          val vn = v * normFull
          def negLl(a0v: Array[Double], bv: Array[Array[Double]]): Double = {
            val eta = new Array[Double](k)
            var mx = Double.NegativeInfinity
            var t = 0
            while (t < k) {
              var e = a0v(t) + off(t)
              if (bv != null) {
                var j = 0
                while (j < p) { e += bv(t)(j) * xr(j); j += 1 }
              }
              eta(t) = e; if (e > mx) mx = e
              t += 1
            }
            var z = 0.0
            t = 0
            while (t < k) { z += math.exp(eta(t) - mx); t += 1 }
            -2.0 * (eta(yIdx) - (mx + math.log(z)))
          }
          var l = 0
          while (l < L) {
            acc(l) += vn * negLl(a0Full(l), betaFull(l))
            l += 1
          }
          acc(L) += vn * negLl(a0NullFull, null)
          acc
        },
        (a, b) => { var i = 0; while (i <= L) { a(i) += b(i); i += 1 }; a },
        depth = 2)
      val nulldev = devs(L)
      val devRatio = Array.tabulate(L)(l =>
        SgdNetModel.devRatio(devs(l), nulldev))
      val full = new SgdNetModel("multinomial", featureCols.toArray,
        Array(labelCol), classes, lambdas, a0Full, betaFull, nulldev,
        devRatio, total.n, sharedPasses + 2, params)

      // held-out scoring: the prediction includes the row's own offset
      // (newoffset); Σv·err / Σv with RAW v
      val bA0 = sc.broadcast(a0Out)
      val bBeta = sc.broadcast(betaOut)
      val sums = rows.treeAggregate(new Array[Double](nfolds * L))(
        (s, row) => {
          val (f, x, yIdx, off, v) = row
          var l = 0
          while (l < L) {
            val al = bA0.value(f)(l); val bl = bBeta.value(f)(l)
            val eta = new Array[Double](k)
            var mx = Double.NegativeInfinity
            var t = 0
            while (t < k) {
              var e = al(t) + off(t)
              var j = 0
              while (j < p) { e += bl(t)(j) * x(j); j += 1 }
              eta(t) = e; if (e > mx) mx = e
              t += 1
            }
            var z = 0.0
            t = 0
            while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
            s(f * L + l) += v * (measure match {
              case "class" =>
                var best = 0
                t = 1
                while (t < k) { if (eta(t) >= eta(best)) best = t; t += 1 }
                if (best != yIdx) 1.0 else 0.0
              case "mse" =>
                var acc2 = 0.0
                t = 0
                while (t < k) {
                  val d = eta(t) / z - (if (t == yIdx) 1.0 else 0.0)
                  acc2 += d * d; t += 1
                }
                acc2
              case "mae" =>
                var acc2 = 0.0
                t = 0
                while (t < k) {
                  acc2 += math.abs(eta(t) / z - (if (t == yIdx) 1.0 else 0.0)); t += 1
                }
                acc2
              case "deviance" =>
                val pt = math.min(math.max(eta(yIdx) / z, 1e-5), 1.0 - 1e-5)
                -2.0 * math.log(pt)
              case other => // unreachable: the entry point validates
                throw new IllegalArgumentException(s"unknown measure $other")
            })
            l += 1
          }
          s
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
        depth = 2)
      val foldScores = Array.tabulate(nfolds, L)((f, l) =>
        sums(f * L + l) / wFold(f))
      summarize(params.alpha, lambdas, foldScores, full)
    } finally rows.unpersist(blocking = false)
  }

  // ------------------------------- weighted multinomial, shared-pass CV

  /** Shared-pass WEIGHTED multinomial CV (round 15): the
    * [[cvMultinomialShared]] FISTA chassis with the frequency weight v
    * folded into every softmax-gradient contribution (vn·(p−y) per
    * row, `SgdNet.fitWeightedMultinomial`'s arithmetic tiled per
    * fold). Per-fold raw-v moments rescale driver-side to each fold's
    * sum-to-n_train normalization, so each fold-model matches a
    * standalone weighted fit on its train rows within the convergence
    * tolerance. Held-out scores are Σv·err/Σv with raw v
    * (deviance|mse|mae|class). */
  private def cvWeightedMultinomialShared(df: DataFrame,
                                  featureCols: Seq[String],
                                  labelCol: String, weightCol: String,
                                  params: SgdNetParams,
                                  nfolds: Int, foldCol: Column,
                                  measure: String): CvPath = {
    SgdNet.requireNoZeroPf(params, "shared weighted multinomial CV")
    val p = featureCols.size
    val classes = SgdNet.multinomialClasses(df, labelCol)
    val k = classes.length
    val classIdx = classes.zipWithIndex.toMap
    require(params.penaltyFactor == null ||
      (params.penaltyFactor.length == p && params.penaltyFactor.forall(_ >= 0)),
      "penaltyFactor must have one non-negative entry per feature")

    val hashCols = (featureCols :+ labelCol).map(col)
    val sc0 = df.sparkSession.sparkContext
    val bClassIdx = sc0.broadcast(classIdx)
    val rows = df
      .withColumn("__fold", foldExpr(foldCol, hashCols, nfolds).cast("int"))
      .select((featureCols.map(c => col(c).cast("double")) :+
        col(labelCol).cast("string") :+ col(weightCol).cast("double") :+
        col("__fold")): _*)
      .rdd.map { r =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = r.getDouble(j); j += 1 }
        (r.getInt(p + 2), x, bClassIdx.value(r.getString(p)), r.getDouble(p + 1))
      }
      // v == 0 drops the observation from training and the held-out ratio
      .map { t => require(t._4 >= 0, "weights must be non-negative"); t }
      .filter(_._4 > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      val F = nfolds + 1
      // ONE pass: per-fold RAW-v one-hot weighted moments + Σv
      val zero = (Array.fill(nfolds)(new GramStats(p, k)),
        new Array[Double](nfolds))
      val (perFold, wFold) = rows.treeAggregate(zero)(
        (acc, t) => {
          val y = new Array[Double](k); y(t._3) = 1.0
          acc._1(t._1).addWeighted(t._2, y, t._4)
          acc._2(t._1) += t._4
          acc
        },
        (a, b) => {
          var i = 0
          while (i < nfolds) { a._1(i).merge(b._1(i)); a._2(i) += b._2(i); i += 1 }
          a
        }, depth = 2)
      requireNonEmptyFolds(perFold.map(_.n), nfolds)
      val total = new GramStats(p, k)
      perFold.foreach(total.merge)
      val wTotal = wFold.sum
      val perFoldExt = perFold :+ new GramStats(p, k)
      val wFoldExt = wFold :+ 0.0
      val nTrain = Array.tabulate(F)(f => (total.n - perFoldExt(f).n).toDouble)
      val norms = Array.tabulate(F)(f => nTrain(f) / (wTotal - wFoldExt(f)))
      val trainStats = Array.tabulate(F) { f =>
        val tr = new GramStats(p, k).merge(total).subtract(perFoldExt(f))
          .scaleWeights(norms(f))
        SufficientStats.standardize(tr, params.standardize, params.intercept)
      }
      val grouped = params.typeMultinomial == "grouped"
      val lambdas =
        if (params.lambda != null) params.lambda
        else {
          val minRatio = if (params.lambdaMinRatio.isNaN)
            LambdaPath.defaultMinRatio(total.n, p) else params.lambdaMinRatio
          val bArg = if (grouped) trainStats(nfolds).b
            else Array(trainStats(nfolds).b.flatten)
          val pfArg = if (params.penaltyFactor == null) null
            else if (grouped) params.penaltyFactor
            else Array.tabulate(k * p)(i => params.penaltyFactor(i % p))
          LambdaPath.build(bArg, params.alpha, params.nlambda, minRatio,
            pfArg)
        }
      val means = trainStats.map(st =>
        if (params.intercept) st.xMean else new Array[Double](p))
      val scales = trainStats.map(st =>
        if (params.standardize) st.xSd else Array.fill(p)(1.0))
      val boundsF = scales.map(s => SgdNet.boundsStd(params, s, 1.0))
      val pf = params.penaltyFactor
      val steps = trainStats.map(st => 1.0 / (0.5 * LinAlg.maxEig(st.gram) + 1e-9))
      val sc = rows.sparkContext
      val bMeans = sc.broadcast(means)
      val bScales = sc.broadcast(scales)
      val bNorms = sc.broadcast(norms)

      val L = lambdas.length
      val beta = Array.fill(F)(Array.ofDim[Double](k, p))
      val a0 = Array.tabulate(F) { f =>
        Array.tabulate(k)(t => if (params.intercept)
          math.log(math.max(trainStats(f).yMean(t), 1e-12)) else 0.0)
      }
      val a0Out = Array.ofDim[Double](F, L, k)
      val betaOut = Array.ofDim[Double](F, L, k, p)
      var sharedPasses = 0

      for (l <- 0 until L) {
        val lam = lambdas(l)
        val active = Array.fill(F)(true)
        val yB = beta.map(_.map(_.clone()))
        val yA = a0.map(_.clone())
        val tk = Array.fill(F)(1.0)
        var iter = 0
        while (iter < params.maxit && active.exists(identity)) {
          val activeSnap = active.clone()
          val yBSnap = yB.map(_.map(_.clone()))
          val yASnap = yA.map(_.clone())
          sharedPasses += 1
          // ONE pass: v-weighted softmax gradients for all active folds
          // plus the per-fold weighted count in the last F slots
          val acc = rows.treeAggregate(new Array[Double](F * k * (p + 1)))(
            (s, row) => {
              val (rowFold, xr, yIdx, v) = row
              var f = 0
              while (f < F) {
                if (f != rowFold && activeSnap(f)) {
                  val m = bMeans.value(f); val sl = bScales.value(f)
                  val bf = yBSnap(f); val af = yASnap(f)
                  val vn = v * bNorms.value(f)
                  val xs = new Array[Double](p)
                  var j = 0
                  while (j < p) { xs(j) = (xr(j) - m(j)) / sl(j); j += 1 }
                  val eta = new Array[Double](k)
                  var mx = Double.NegativeInfinity
                  var t = 0
                  while (t < k) {
                    var e = af(t)
                    j = 0
                    while (j < p) { e += bf(t)(j) * xs(j); j += 1 }
                    eta(t) = e; if (e > mx) mx = e
                    t += 1
                  }
                  var z = 0.0
                  t = 0
                  while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
                  val base = f * k * (p + 1)
                  t = 0
                  while (t < k) {
                    val r = vn * (eta(t) / z - (if (t == yIdx) 1.0 else 0.0))
                    s(base + t * (p + 1)) += r
                    j = 0
                    while (j < p) { s(base + t * (p + 1) + 1 + j) += r * xs(j); j += 1 }
                    t += 1
                  }
                }
                f += 1
              }
              s
            },
            (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
            depth = 2)
          // driver-side FISTA prox step per active fold (identical
          // arithmetic to fitMultinomialCore's; Σvn per fold == nTrain)
          for (f <- 0 until F if active(f)) {
            val base = f * k * (p + 1)
            val ninv = 1.0 / nTrain(f)
            val grad = Array.tabulate(k, p)((t, j) =>
              acc(base + t * (p + 1) + 1 + j) * ninv)
            val gradA0 = Array.tabulate(k)(t => acc(base + t * (p + 1)) * ninv)
            val step = steps(f)
            val (lo, up) = boundsF(f)
            val nb = Array.ofDim[Double](k, p)
            val na = new Array[Double](k)
            var maxD = 0.0
            for (t <- 0 until k) {
              na(t) = if (params.intercept) yA(f)(t) - step * gradA0(t) else 0.0
              val d0 = math.abs(na(t) - a0(f)(t)); if (d0 > maxD) maxD = d0
            }
            for (j <- 0 until p) {
              val pfj = if (pf == null) 1.0 else pf(j)
              if (grouped) {
                val v = Array.tabulate(k)(t => yB(f)(t)(j) - step * grad(t)(j))
                val g = step * lam * params.alpha * pfj
                if (lo != null || up != null) {
                  // boxed group prox (round 16): bisection on the group
                  // norm — see LinAlg.boxedGroupProx
                  val q = 1.0 + step * lam * (1.0 - params.alpha) * pfj
                  val loJ = Array.fill(k)(
                    if (lo == null) Double.NegativeInfinity else lo(j))
                  val upJ = Array.fill(k)(
                    if (up == null) Double.PositiveInfinity else up(j))
                  val u = LinAlg.boxedGroupProx(v, q, g, loJ, upJ,
                    new Array[Double](k))
                  for (t <- 0 until k) {
                    nb(t)(j) = u(t)
                    val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                  }
                } else {
                  var nrm = 0.0
                  v.foreach(x => nrm += x * x)
                  nrm = math.sqrt(nrm)
                  val shrink =
                    if (nrm > g)
                      (1.0 - g / nrm) /
                        (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                    else 0.0
                  for (t <- 0 until k) {
                    nb(t)(j) = v(t) * shrink
                    val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                  }
                }
              } else {
                for (t <- 0 until k) {
                  val v = yB(f)(t)(j) - step * grad(t)(j)
                  var x = LinAlg.softThreshold(v,
                    step * lam * params.alpha * pfj) /
                    (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                  if (lo != null && x < lo(j)) x = lo(j)
                  if (up != null && x > up(j)) x = up(j)
                  nb(t)(j) = x
                  val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                }
              }
            }
            var restartDot = 0.0
            for (t <- 0 until k; j <- 0 until p)
              restartDot += grad(t)(j) * (nb(t)(j) - beta(f)(t)(j))
            for (t <- 0 until k) restartDot += gradA0(t) * (na(t) - a0(f)(t))
            val tk1 = if (restartDot > 0) 1.0
              else (1.0 + math.sqrt(1.0 + 4.0 * tk(f) * tk(f))) / 2.0
            val mom = if (restartDot > 0) 0.0 else (tk(f) - 1.0) / tk1
            for (t <- 0 until k; j <- 0 until p)
              yB(f)(t)(j) = nb(t)(j) + mom * (nb(t)(j) - beta(f)(t)(j))
            for (t <- 0 until k) yA(f)(t) = na(t) + mom * (na(t) - a0(f)(t))
            beta(f) = nb; a0(f) = na; tk(f) = tk1
            if (maxD < math.max(params.thresh * 1e-3, 1e-8)) active(f) = false
          }
          iter += 1
        }
        for (f <- 0 until F) {
          for (t <- 0 until k; j <- 0 until p)
            betaOut(f)(l)(t)(j) = beta(f)(t)(j) / scales(f)(j)
          for (t <- 0 until k)
            a0Out(f)(l)(t) = if (params.intercept)
              a0(f)(t) - (0 until p).map(j => betaOut(f)(l)(t)(j) * means(f)(j)).sum
            else a0(f)(t)
        }
      }

      // full-data model from the virtual fold + v-weighted deviance pass
      // (multinomDeviance on vn-scaled one-hots — deviance is linear in y)
      val a0Full = Array.tabulate(L)(l => a0Out(nfolds)(l).clone())
      val betaFull = Array.tabulate(L)(l => betaOut(nfolds)(l).map(_.clone()))
      val priors = trainStats(nfolds).yMean
      val nulldev = -2.0 * total.n * priors.map(pr => SgdNet.safeXLog(pr, pr)).sum
      val normFull = norms(nfolds)
      val onehotRows = rows.map { t =>
        val y = new Array[Double](k); y(t._3) = t._4 * normFull; (t._2, y)
      }
      val devs = SgdNet.multinomDeviance(onehotRows, a0Full, betaFull, k)
      val devRatio = devs.map(d => SgdNetModel.devRatio(d, nulldev))
      val full = new SgdNetModel("multinomial", featureCols.toArray,
        Array(labelCol), classes, lambdas, a0Full, betaFull, nulldev,
        devRatio, total.n, sharedPasses + 2, params)

      // held-out scoring per (fold, lambda): Σv·err / Σv with RAW v
      val bA0 = sc.broadcast(a0Out)
      val bBeta = sc.broadcast(betaOut)
      val sums = rows.treeAggregate(new Array[Double](nfolds * L))(
        (s, row) => {
          val (f, x, yIdx, v) = row
          var l = 0
          while (l < L) {
            val al = bA0.value(f)(l); val bl = bBeta.value(f)(l)
            val eta = new Array[Double](k)
            var mx = Double.NegativeInfinity
            var t = 0
            while (t < k) {
              var e = al(t)
              var j = 0
              while (j < p) { e += bl(t)(j) * x(j); j += 1 }
              eta(t) = e; if (e > mx) mx = e
              t += 1
            }
            var z = 0.0
            t = 0
            while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
            s(f * L + l) += v * (measure match {
              case "class" =>
                var best = 0
                t = 1
                while (t < k) { if (eta(t) >= eta(best)) best = t; t += 1 }
                if (best != yIdx) 1.0 else 0.0
              case "mse" =>
                var acc2 = 0.0
                t = 0
                while (t < k) {
                  val d = eta(t) / z - (if (t == yIdx) 1.0 else 0.0)
                  acc2 += d * d; t += 1
                }
                acc2
              case "mae" =>
                var acc2 = 0.0
                t = 0
                while (t < k) {
                  acc2 += math.abs(eta(t) / z - (if (t == yIdx) 1.0 else 0.0)); t += 1
                }
                acc2
              case "deviance" =>
                val pt = math.min(math.max(eta(yIdx) / z, 1e-5), 1.0 - 1e-5)
                -2.0 * math.log(pt)
              case other => // unreachable: fitWeightedMulti validates
                throw new IllegalArgumentException(s"unknown measure $other")
            })
            l += 1
          }
          s
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
        depth = 2)
      val foldScores = Array.tabulate(nfolds, L)((f, l) =>
        sums(f * L + l) / wFold(f))
      summarize(params.alpha, lambdas, foldScores, full)
    } finally rows.unpersist(blocking = false)
  }

  // -------------------------------------------------------- sparse-input CV

  /** k-fold CV over SPARSE (CSR) feature input — the
    * cv.glmnet-with-dgCMatrix surface (the reference's cv_sgdnet
    * accepts sparse x by delegating to sgdnet — R/cv_sgdnet.R +
    * src/saga-sparse.h): rows carry (indices, values) arrays over a
    * fixed dimension `dim`, exactly [[SgdNet.fitSparse]]'s input
    * shape, and the matrix is NEVER densified.
    *
    *  - gaussian: ONE sparse-moment pass — per-fold GramStats via
    *    O(nnz²) `addSparse`, train = total − fold, each fold's path a
    *    standalone [[SgdNet.solveGaussianFromStats]], held-out
    *    mse/deviance as moment forms (mae adds one RDD pass). The
    *    alpha grid is free (moments are alpha-independent).
    *  - binomial / poisson: SHARED sparse IRLS — all folds advance in
    *    one treeAggregate per Newton round accumulating the sparse
    *    route's UNCENTERED nonzero moments per fold, with the
    *    centering/standardization correction applied algebraically per
    *    fold after each pass (the `SgdNet.CsrRows` algebra, fold-tiled);
    *    the full-data model rides as the virtual fold. Measures
    *    deviance|mse|mae + class/auc for binomial.
    *  - multinomial: SHARED sparse FISTA — all folds advance together
    *    through one softmax-gradient `treeAggregate` per FISTA round
    *    over the sparse route's UNCENTERED nonzero accumulations, with
    *    the per-fold standardization correction applied algebraically
    *    on the driver (the `sparseSoftmaxGrad` algebra, fold-tiled);
    *    the full-data model rides as the virtual fold. Measures
    *    deviance|mse|mae|class.
    *
    * `weightCol` adds cv.glmnet observation weights to every family
    * (round 16 — the last sparse composition cell): per-fold RAW-v
    * weighted moments with per-fold sum-to-n_train renormalization,
    * exactly the [[fitWeighted]] dense-CV convention, and v-weighted
    * held-out scores Σv·err/Σv (v == 0 drops the row everywhere).
    *
    * Fold assignment hashes the row content (idx, vals, label) unless
    * `foldCol` is supplied (the reference's foldid). */
  def fitSparse(df: DataFrame, idxCol: String, valCol: String, dim: Int,
                labelCol: String,
                params: SgdNetParams = SgdNetParams(),
                nfolds: Int = 10,
                measure: String = "deviance",
                foldCol: Column = null,
                alphas: Seq[Double] = Seq.empty,
                weightCol: String = null): CvResult = {
    SgdNet.requireGramP(dim)
    require(nfolds >= 2, "nfolds must be at least 2")
    val okMeasures = params.family match {
      case "binomial"    => Set("deviance", "mse", "mae", "class", "auc")
      case "multinomial" => Set("deviance", "mse", "mae", "class")
      case _             => Set("deviance", "mse", "mae")
    }
    require(okMeasures.contains(measure),
      s"sparse ${params.family} CV supports " +
        s"${okMeasures.toSeq.sorted.mkString("|")}, not '$measure'")
    val alphaGrid = if (alphas.nonEmpty) alphas else Seq(params.alpha)
    val paths = params.family match {
      case "gaussian" =>
        cvSparseGaussian(df, idxCol, valCol, dim, Seq(labelCol), params,
          nfolds, alphaGrid, measure, foldCol, weightCol)
      case "binomial" | "poisson" =>
        cvIrls(df, labelCol, params, nfolds, alphaGrid, measure,
          weighted = weightCol != null, hasOffset = false,
          Array.tabulate(dim)(j => s"V$j"),
          csrIrlsRows(df, idxCol, valCol, dim, labelCol, nfolds, foldCol,
            weightCol, null))
      case "multinomial" =>
        alphaGrid.map(a => cvSparseMultinomialShared(df, idxCol, valCol, dim,
          labelCol, params.copy(alpha = a), nfolds, foldCol, measure,
          weightCol))
      case f => throw new IllegalArgumentException(
        s"sparse CV supports gaussian, binomial, poisson, multinomial, " +
          s"not $f (multi-response mgaussian: fitSparseMulti)")
    }
    val best = paths.minBy(p => p.cvm.min)
    CvResult(paths, best)
  }

  /** [[fitSparse]] WITH a linear-predictor offset (round 16 — the
    * cv.glmnet `offset` surface over dgCMatrix x, closing the last
    * sparse × offset × CV composition cell): gaussian reduces EXACTLY
    * to the plain sparse CV on y − offset (identity link); binomial
    * and poisson run [[cvIrls]] over CSR rows with
    * η = row-offset + a0_f + x·β_f in every IRLS accumulation and the
    * WLS target z − offset (uncentered sparse moments, driver-side
    * centering, never densified), per-fold offset nulls (closed-form
    * exposure MLE for poisson, fold-tiled Newton for binomial), the
    * offset-corrected sparse lambda path, held-out scores with the
    * row's own offset in the prediction (newoffset), and optional
    * frequency weights. */
  def fitSparseWithOffset(df: DataFrame, idxCol: String, valCol: String,
                          dim: Int, labelCol: String, offsetCol: String,
                          params: SgdNetParams = SgdNetParams(),
                          nfolds: Int = 10,
                          measure: String = "deviance",
                          foldCol: Column = null,
                          alphas: Seq[Double] = Seq.empty,
                          weightCol: String = null): CvResult = {
    SgdNet.requireGramP(dim)
    require(nfolds >= 2, "nfolds must be at least 2")
    val okMeasures = params.family match {
      case "binomial" => Set("deviance", "mse", "mae", "class", "auc")
      case _          => Set("deviance", "mse", "mae")
    }
    require(okMeasures.contains(measure),
      s"sparse offset ${params.family} CV supports " +
        s"${okMeasures.toSeq.sorted.mkString("|")}, not '$measure'")
    params.family match {
      case "gaussian" =>
        val adj = df.withColumn(labelCol,
          col(labelCol).cast("double") - col(offsetCol).cast("double"))
        fitSparse(adj, idxCol, valCol, dim, labelCol, params, nfolds,
          measure, foldCol, alphas, weightCol)
      case "binomial" | "poisson" =>
        val paths = cvIrls(df, labelCol, params, nfolds,
          if (alphas.nonEmpty) alphas else Seq(params.alpha), measure,
          weighted = weightCol != null, hasOffset = true,
          Array.tabulate(dim)(j => s"V$j"),
          csrIrlsRows(df, idxCol, valCol, dim, labelCol, nfolds, foldCol,
            weightCol, offsetCol))
        val best = paths.minBy(p => p.cvm.min)
        CvResult(paths, best)
      case f => throw new IllegalArgumentException(
        s"sparse offset CV supports gaussian, binomial, poisson, not $f " +
          "(the SgdNet.fitSparseWithOffset surface)")
    }
  }.copy(offsetFit = true) // predictAt must get newoffset (glmnet)

  /** [[fitSparse]] with a MULTI-COLUMN response — the
    * cv.glmnet-with-dgCMatrix mgaussian route (round 16; also accepts
    * the gaussian k = 1 case): ONE per-fold sparse-moment pass feeds
    * every fold's group-path solve, with the same weight semantics as
    * [[fitSparse]] and held-out scores summed across responses (the
    * score.sgdnet_mgaussian convention). */
  /** [[fitSparseMulti]] with a per-response OFFSET matrix (round 16):
    * exact identity-link delegation to the sparse multi-response
    * moment CV on y_t − offset_t (the [[fitMultiWithOffset]] argument
    * over CSR feature rows). */
  def fitSparseMultiWithOffset(df: DataFrame, idxCol: String, valCol: String,
                               dim: Int, labelCols: Seq[String],
                               offsetCols: Seq[String],
                               params: SgdNetParams = SgdNetParams(),
                               nfolds: Int = 10,
                               measure: String = "deviance",
                               foldCol: Column = null,
                               alphas: Seq[Double] = Seq.empty,
                               weightCol: String = null): CvResult = {
    SgdNet.requireGramP(dim)
    require(params.family == "mgaussian" || params.family == "gaussian",
      s"fitSparseMultiWithOffset is the identity-link CV route, not ${params.family}")
    require(offsetCols.size == labelCols.size,
      s"need one offset column per response (${labelCols.size}), got ${offsetCols.size}")
    val adj = labelCols.zip(offsetCols).foldLeft(df) { case (d, (l, o)) =>
      d.withColumn(l, col(l).cast("double") - col(o).cast("double"))
    }
    fitSparseMulti(adj, idxCol, valCol, dim, labelCols, params, nfolds,
      measure, foldCol, alphas, weightCol)
      .copy(offsetFit = true) // predictAt must get newoffset (glmnet)
  }

  def fitSparseMulti(df: DataFrame, idxCol: String, valCol: String, dim: Int,
                     labelCols: Seq[String],
                     params: SgdNetParams = SgdNetParams(),
                     nfolds: Int = 10,
                     measure: String = "deviance",
                     foldCol: Column = null,
                     alphas: Seq[Double] = Seq.empty,
                     weightCol: String = null): CvResult = {
    SgdNet.requireGramP(dim)
    require(nfolds >= 2, "nfolds must be at least 2")
    require(params.family == "gaussian" || params.family == "mgaussian",
      s"fitSparseMulti supports gaussian and mgaussian, not ${params.family}")
    require(params.family == "mgaussian" || labelCols.size == 1,
      "response for gaussian must be one-dimensional " +
        "(use family=\"mgaussian\" for multi-response)")
    require(Set("deviance", "mse", "mae").contains(measure),
      s"sparse ${params.family} CV supports deviance|mae|mse, not '$measure'")
    val alphaGrid = if (alphas.nonEmpty) alphas else Seq(params.alpha)
    val paths = cvSparseGaussian(df, idxCol, valCol, dim, labelCols, params,
      nfolds, alphaGrid, measure, foldCol, weightCol)
    val best = paths.minBy(p => p.cvm.min)
    CvResult(paths, best)
  }

  /** One-pass sparse gaussian/mgaussian CV (see [[fitSparse]] /
    * [[fitSparseMulti]]). With `weightCol` the ONE pass accumulates
    * per-fold RAW-v weighted sparse moments + per-fold Σv, and train
    * stats are renormalized to the fold's own sum-to-n_train (the
    * [[cvWeightedGaussian]] convention); held-out scores become
    * Σv·err/Σv, summed ACROSS responses for k > 1 (the
    * score.sgdnet_mgaussian convention). The unweighted single-response
    * call is the v == 1, k == 1 special case of the same arithmetic
    * (all the extra factors are exactly 1.0, so the output is
    * bit-identical to round 15's). */
  private def cvSparseGaussian(df: DataFrame, idxCol: String, valCol: String,
                               dim: Int, labelCols: Seq[String],
                               params: SgdNetParams, nfolds: Int,
                               alphaGrid: Seq[Double], measure: String,
                               foldCol: Column,
                               weightCol: String = null): Seq[CvPath] = {
    val p = dim
    val k = labelCols.size
    val weighted = weightCol != null
    val hashCols = Seq(col(idxCol), col(valCol)) ++ labelCols.map(col)
    val wCol = if (weighted) col(weightCol).cast("double") else lit(1.0)
    val rows0 = df
      .withColumn("__fold", foldExpr(foldCol, hashCols, nfolds).cast("int"))
      .select((Seq(col(idxCol), col(valCol).cast("array<double>")) ++
        labelCols.map(c => col(c).cast("double")) :+
        col("__fold") :+ wCol): _*)
      .rdd.map { r =>
        val y = new Array[Double](k)
        var t = 0
        while (t < k) { y(t) = r.getDouble(2 + t); t += 1 }
        (r.getInt(2 + k), r.getSeq[Int](0).toArray,
          r.getSeq[Double](1).toArray, y, r.getDouble(3 + k))
      }
    // v == 0 drops the observation everywhere (glmnet) — from training
    // AND from the held-out ratio; the unweighted path never filters
    val rows = (if (weighted)
        rows0.map { t => require(t._5 >= 0, "weights must be non-negative"); t }
          .filter(_._5 > 0)
      else rows0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val zero = (Array.fill(nfolds)(new GramStats(p, k)),
        new Array[Double](nfolds))
      val (perFold, wFold) = rows.treeAggregate(zero)(
        (acc, t) => {
          acc._1(t._1).addSparseWeighted(t._2, t._3, t._4, t._5)
          acc._2(t._1) += t._5
          acc
        },
        (a, b) => {
          var i = 0
          while (i < nfolds) { a._1(i).merge(b._1(i)); a._2(i) += b._2(i); i += 1 }
          a
        }, depth = 2)
      requireNonEmptyFolds(perFold.map(_.n), nfolds)
      val total = new GramStats(p, k)
      perFold.foreach(total.merge)
      val wTotal = wFold.sum
      val names = (0 until p).map(j => s"V$j")
      alphaGrid.map { a =>
        val prm = params.copy(alpha = a)
        val full = SgdNet.solveGaussianFromStats(
          new GramStats(p, k).merge(total)
            .scaleWeights(total.n.toDouble / wTotal),
          names, labelCols, prm)
        val lambdas = full.lambda
        val L = lambdas.length
        val foldScores = Array.ofDim[Double](nfolds, L)
        val a0Out = Array.ofDim[Double](nfolds, L, k)
        val bOut = Array.ofDim[Double](nfolds, L, k, p)
        for (f <- 0 until nfolds) {
          // train = total − fold, rescaled to the fold's OWN sum-to-
          // n_train weight normalization (exactly 1.0 when unweighted)
          val train = new GramStats(p, k).merge(total).subtract(perFold(f))
          train.scaleWeights(train.n.toDouble / (wTotal - wFold(f)))
          val fm = SgdNet.solveGaussianFromStats(train, names, labelCols,
            prm.copy(lambda = lambdas))
          for (l <- 0 until L; t <- 0 until k) {
            a0Out(f)(l)(t) = fm.a0(l)(t)
            for (j <- 0 until p) bOut(f)(l)(t)(j) = fm.beta(l)(t)(j)
          }
          if (measure != "mae") {
            // held-out v-weighted (mse == deviance) from fold-f RAW-v
            // moments, summed across responses — the
            // cvGaussianFromStats closed form
            val fg = perFold(f)
            val nf = wFold(f)
            for (l <- 0 until L) {
              var sTot = 0.0
              for (t <- 0 until k) {
                val a0 = a0Out(f)(l)(t)
                val bt = bOut(f)(l)(t)
                var quad = 0.0; var bx = 0.0; var bxy = 0.0
                for (j <- 0 until p) {
                  bx += bt(j) * fg.sumX(j) / nf
                  bxy += bt(j) * fg.xty(j * k + t) / nf
                  var s = 0.0
                  for (m <- 0 until p) s += fg.xtx(LinAlg.triIdx(j, m)) / nf * bt(m)
                  quad += bt(j) * s
                }
                sTot += fg.sumYY(t) / nf - 2 * a0 * fg.sumY(t) / nf +
                  a0 * a0 + quad + 2 * a0 * bx - 2 * bxy
              }
              foldScores(f)(l) = sTot
            }
          }
        }
        if (measure == "mae") {
          // |residual| is not a moment form — ONE sparse RDD pass for
          // every (fold, lambda) cell, Σv·Σ_t|err_t| / Σv
          val bA0 = rows.sparkContext.broadcast(a0Out)
          val bB = rows.sparkContext.broadcast(bOut)
          val sums = rows.treeAggregate(new Array[Double](nfolds * L))(
            (acc, t) => {
              val (f, idx, vals, y, v) = t
              var l = 0
              while (l < L) {
                var errSum = 0.0
                var t2 = 0
                while (t2 < k) {
                  var eta = bA0.value(f)(l)(t2)
                  val bl = bB.value(f)(l)(t2)
                  var i = 0
                  while (i < idx.length) { eta += bl(idx(i)) * vals(i); i += 1 }
                  errSum += math.abs(y(t2) - eta)
                  t2 += 1
                }
                acc(f * L + l) += v * errSum
                l += 1
              }
              acc
            },
            (x, y) => { var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x },
            depth = 2)
          for (f <- 0 until nfolds; l <- 0 until L)
            foldScores(f)(l) = sums(f * L + l) / wFold(f)
        }
        summarize(a, lambdas, foldScores, full)
      }
    } finally rows.unpersist(blocking = false)
  }

  // --------------------------------- multinomial, shared-pass sparse CV

  /** Shared sparse multinomial CV (round 16 — closes the last
    * cv.glmnet-with-dgCMatrix composition cell; reference cv_sgdnet
    * accepts sparse x for every family by delegation, R/cv_sgdnet.R +
    * tests/testthat/test-sparse.R): the [[cvMultinomialShared]] FISTA
    * chassis over CSR rows. Each gradient round is ONE `treeAggregate`
    * accumulating every unconverged fold's UNCENTERED per-class
    * residual sums Σr and Σr·x over the nonzeros only (the
    * `SgdNet.sparseSoftmaxGrad` algebra, fold-tiled), with the
    * standardization correction (Σr·x − mean·Σr)/scale/n applied
    * algebraically on the driver per fold — the matrix is never
    * densified and per-row cost stays O(active-folds × k × nnz). The
    * full-data model rides as virtual fold nfolds. With `weightCol`
    * the residuals carry v·norm_f mass and held-out scores are
    * Σv·err/Σv (the [[cvWeightedMultinomialShared]] convention); the
    * unweighted call is the v == 1 special case. */
  private def cvSparseMultinomialShared(df: DataFrame, idxCol: String,
                                        valCol: String, dim: Int,
                                        labelCol: String,
                                        params: SgdNetParams, nfolds: Int,
                                        foldCol: Column, measure: String,
                                        weightCol: String = null): CvPath = {
    SgdNet.requireNoZeroPf(params, "shared sparse multinomial CV")
    val p = dim
    val weighted = weightCol != null
    val classes = SgdNet.multinomialClasses(df, labelCol)
    val k = classes.length
    val classIdx = classes.zipWithIndex.toMap
    require(params.penaltyFactor == null ||
      (params.penaltyFactor.length == p && params.penaltyFactor.forall(_ >= 0)),
      "penaltyFactor must have one non-negative entry per feature")

    val wCol = if (weighted) col(weightCol).cast("double") else lit(1.0)
    val hashCols = Seq(col(idxCol), col(valCol), col(labelCol))
    val sc0 = df.sparkSession.sparkContext
    val bClassIdx = sc0.broadcast(classIdx)
    val rows0 = df
      .withColumn("__fold", foldExpr(foldCol, hashCols, nfolds).cast("int"))
      .select(col(idxCol), col(valCol).cast("array<double>"),
        col(labelCol).cast("string"), col("__fold"), wCol)
      .rdd.map { r =>
        (r.getInt(3), r.getSeq[Int](0).toArray,
          r.getSeq[Double](1).toArray, bClassIdx.value(r.getString(2)),
          r.getDouble(4))
      }
    val rows = (if (weighted)
        rows0.map { t => require(t._5 >= 0, "weights must be non-negative"); t }
          .filter(_._5 > 0)
      else rows0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // fold count INCLUDING the virtual full-data fold (index nfolds)
      val F = nfolds + 1
      // ONE pass: per-fold RAW-v one-hot weighted sparse moments + Σv
      val zero = (Array.fill(nfolds)(new GramStats(p, k)),
        new Array[Double](nfolds))
      val (perFold, wFold) = rows.treeAggregate(zero)(
        (acc, t) => {
          val y = new Array[Double](k); y(t._4) = 1.0
          acc._1(t._1).addSparseWeighted(t._2, t._3, y, t._5)
          acc._2(t._1) += t._5
          acc
        },
        (a, b) => {
          var i = 0
          while (i < nfolds) { a._1(i).merge(b._1(i)); a._2(i) += b._2(i); i += 1 }
          a
        }, depth = 2)
      requireNonEmptyFolds(perFold.map(_.n), nfolds)
      val total = new GramStats(p, k)
      perFold.foreach(total.merge)
      val wTotal = wFold.sum
      val perFoldExt = perFold :+ new GramStats(p, k)
      val wFoldExt = wFold :+ 0.0
      val nTrain = Array.tabulate(F)(f => (total.n - perFoldExt(f).n).toDouble)
      val norms = Array.tabulate(F)(f => nTrain(f) / (wTotal - wFoldExt(f)))
      val trainStats = Array.tabulate(F) { f =>
        val tr = new GramStats(p, k).merge(total).subtract(perFoldExt(f))
          .scaleWeights(norms(f))
        SufficientStats.standardize(tr, params.standardize, params.intercept)
      }
      val grouped = params.typeMultinomial == "grouped"
      val lambdas =
        if (params.lambda != null) params.lambda
        else {
          val minRatio = if (params.lambdaMinRatio.isNaN)
            LambdaPath.defaultMinRatio(total.n, p) else params.lambdaMinRatio
          val bArg = if (grouped) trainStats(nfolds).b
            else Array(trainStats(nfolds).b.flatten)
          // ungrouped flattens b t-major, so pf tiles per class to match
          val pfArg = if (params.penaltyFactor == null) null
            else if (grouped) params.penaltyFactor
            else Array.tabulate(k * p)(i => params.penaltyFactor(i % p))
          LambdaPath.build(bArg, params.alpha, params.nlambda, minRatio,
            pfArg)
        }
      val means = trainStats.map(st =>
        if (params.intercept) st.xMean else new Array[Double](p))
      val scales = trainStats.map(st =>
        if (params.standardize) st.xSd else Array.fill(p)(1.0))
      // per-fold box limits on each fold's own standardized scale
      // (grouped uses the boxed group prox since round 16)
      val boundsF = scales.map(s => SgdNet.boundsStd(params, s, 1.0))
      val pf = params.penaltyFactor
      // per-fold Lipschitz step from the fold's standardized gram
      val steps = trainStats.map(st => 1.0 / (0.5 * LinAlg.maxEig(st.gram) + 1e-9))
      val sc = rows.sparkContext

      val L = lambdas.length
      // per-fold FISTA iterates (standardized scale)
      val beta = Array.fill(F)(Array.ofDim[Double](k, p))
      val a0 = Array.tabulate(F) { f =>
        Array.tabulate(k)(t => if (params.intercept)
          math.log(math.max(trainStats(f).yMean(t), 1e-12)) else 0.0)
      }
      // original-scale coefficients per (fold, lambda) for scoring
      val a0Out = Array.ofDim[Double](F, L, k)
      val betaOut = Array.ofDim[Double](F, L, k, p)
      var sharedPasses = 0

      for (l <- 0 until L) {
        val lam = lambdas(l)
        val active = Array.fill(F)(true)
        // FISTA momentum state per fold, reset at each lambda
        val yB = beta.map(_.map(_.clone()))
        val yA = a0.map(_.clone())
        val tk = Array.fill(F)(1.0)
        var iter = 0
        while (iter < params.maxit && active.exists(identity)) {
          val activeSnap = active.clone()
          sharedPasses += 1
          // per-fold momentum iterates re-expressed on the ORIGINAL
          // sparse scale: eta_t = off(f)(t) + Σ vals·bOverS(f)(t)(idx)
          val bOverS = Array.tabulate(F, k, p)((f, t, j) =>
            yB(f)(t)(j) / scales(f)(j))
          val offs = Array.tabulate(F, k) { (f, t) =>
            var o = yA(f)(t)
            var j = 0
            while (j < p) { o -= means(f)(j) * bOverS(f)(t)(j); j += 1 }
            o
          }
          val bc = sc.broadcast((bOverS, offs, norms))
          // ONE pass: UNCENTERED v-weighted softmax residual sums for
          // all active folds (the sparseSoftmaxGrad layout, fold-tiled):
          // [f][t*(p+1)] Σr, [f][t*(p+1)+1+j] Σr·x_j over nonzeros only
          val acc = rows.treeAggregate(new Array[Double](F * k * (p + 1)))(
            (s, row) => {
              val (rowFold, idx, vals, yIdx, v) = row
              val (bos, off, nrm) = bc.value
              var f = 0
              while (f < F) {
                if (f != rowFold && activeSnap(f)) {
                  val eta = new Array[Double](k)
                  var mx = Double.NegativeInfinity
                  var t = 0
                  while (t < k) {
                    var e = off(f)(t)
                    var i = 0
                    while (i < idx.length) { e += vals(i) * bos(f)(t)(idx(i)); i += 1 }
                    eta(t) = e; if (e > mx) mx = e
                    t += 1
                  }
                  var z = 0.0
                  t = 0
                  while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
                  val vn = v * nrm(f)
                  val base = f * k * (p + 1)
                  t = 0
                  while (t < k) {
                    val r = vn * (eta(t) / z - (if (t == yIdx) 1.0 else 0.0))
                    s(base + t * (p + 1)) += r
                    var i = 0
                    while (i < idx.length) {
                      s(base + t * (p + 1) + 1 + idx(i)) += r * vals(i)
                      i += 1
                    }
                    t += 1
                  }
                }
                f += 1
              }
              s
            },
            (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
            depth = 2)
          // driver-side FISTA prox step per active fold (identical
          // arithmetic to fitMultinomialCore's; the centering correction
          // (Σr·x − mean·Σr)/scale/n is sparseSoftmaxGrad's)
          for (f <- 0 until F if active(f)) {
            val base = f * k * (p + 1)
            val ninv = 1.0 / nTrain(f)
            val grad = Array.tabulate(k, p)((t, j) =>
              (acc(base + t * (p + 1) + 1 + j) -
                means(f)(j) * acc(base + t * (p + 1))) / scales(f)(j) * ninv)
            val gradA0 = Array.tabulate(k)(t => acc(base + t * (p + 1)) * ninv)
            val step = steps(f)
            val (lo, up) = boundsF(f)
            val nb = Array.ofDim[Double](k, p)
            val na = new Array[Double](k)
            var maxD = 0.0
            for (t <- 0 until k) {
              na(t) = if (params.intercept) yA(f)(t) - step * gradA0(t) else 0.0
              val d0 = math.abs(na(t) - a0(f)(t)); if (d0 > maxD) maxD = d0
            }
            for (j <- 0 until p) {
              val pfj = if (pf == null) 1.0 else pf(j)
              if (grouped) {
                val v = Array.tabulate(k)(t => yB(f)(t)(j) - step * grad(t)(j))
                val g = step * lam * params.alpha * pfj
                if (lo != null || up != null) {
                  // boxed group prox (round 16) — see LinAlg.boxedGroupProx
                  val q = 1.0 + step * lam * (1.0 - params.alpha) * pfj
                  val loJ = Array.fill(k)(
                    if (lo == null) Double.NegativeInfinity else lo(j))
                  val upJ = Array.fill(k)(
                    if (up == null) Double.PositiveInfinity else up(j))
                  val u = LinAlg.boxedGroupProx(v, q, g, loJ, upJ,
                    new Array[Double](k))
                  for (t <- 0 until k) {
                    nb(t)(j) = u(t)
                    val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                  }
                } else {
                  var nrm2 = 0.0
                  v.foreach(x => nrm2 += x * x)
                  nrm2 = math.sqrt(nrm2)
                  val shrink =
                    if (nrm2 > g)
                      (1.0 - g / nrm2) /
                        (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                    else 0.0
                  for (t <- 0 until k) {
                    nb(t)(j) = v(t) * shrink
                    val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                  }
                }
              } else {
                for (t <- 0 until k) {
                  val v = yB(f)(t)(j) - step * grad(t)(j)
                  var x = LinAlg.softThreshold(v,
                    step * lam * params.alpha * pfj) /
                    (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                  if (lo != null && x < lo(j)) x = lo(j)
                  if (up != null && x > up(j)) x = up(j)
                  nb(t)(j) = x
                  val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                }
              }
            }
            // gradient-based adaptive restart (O'Donoghue & Candès)
            var restartDot = 0.0
            for (t <- 0 until k; j <- 0 until p)
              restartDot += grad(t)(j) * (nb(t)(j) - beta(f)(t)(j))
            for (t <- 0 until k) restartDot += gradA0(t) * (na(t) - a0(f)(t))
            val tk1 = if (restartDot > 0) 1.0
              else (1.0 + math.sqrt(1.0 + 4.0 * tk(f) * tk(f))) / 2.0
            val mom = if (restartDot > 0) 0.0 else (tk(f) - 1.0) / tk1
            for (t <- 0 until k; j <- 0 until p)
              yB(f)(t)(j) = nb(t)(j) + mom * (nb(t)(j) - beta(f)(t)(j))
            for (t <- 0 until k) yA(f)(t) = na(t) + mom * (na(t) - a0(f)(t))
            beta(f) = nb; a0(f) = na; tk(f) = tk1
            if (maxD < math.max(params.thresh * 1e-3, 1e-8)) active(f) = false
          }
          iter += 1
        }
        for (f <- 0 until F) {
          for (t <- 0 until k; j <- 0 until p)
            betaOut(f)(l)(t)(j) = beta(f)(t)(j) / scales(f)(j)
          for (t <- 0 until k)
            a0Out(f)(l)(t) = if (params.intercept)
              a0(f)(t) - (0 until p).map(j => betaOut(f)(l)(t)(j) * means(f)(j)).sum
            else a0(f)(t)
        }
      }

      // full-data model from the virtual fold's path + one sparse
      // deviance pass (v·norm-scaled one-hots — deviance is linear in y)
      val a0Full = Array.tabulate(L)(l => a0Out(nfolds)(l).clone())
      val betaFull = Array.tabulate(L)(l => betaOut(nfolds)(l).map(_.clone()))
      val priors = trainStats(nfolds).yMean
      val nulldev = -2.0 * total.n * priors.map(pr => SgdNet.safeXLog(pr, pr)).sum
      val normFull = norms(nfolds)
      val onehotRows = rows.map { t =>
        val y = new Array[Double](k); y(t._4) = t._5 * normFull
        (t._2, t._3, y)
      }
      val devs = SgdNet.sparseMultinomDeviance(onehotRows, a0Full, betaFull, k)
      val devRatio = devs.map(d => SgdNetModel.devRatio(d, nulldev))
      val names = (0 until p).map(j => s"V$j").toArray
      val full = new SgdNetModel("multinomial", names,
        Array(labelCol), classes, lambdas, a0Full, betaFull, nulldev,
        devRatio, total.n, sharedPasses + 2, params)

      // held-out scoring per (fold, lambda): sparse eta per row, every
      // row scored by its OWN fold's model, Σv·err / Σv
      val bA0 = sc.broadcast(a0Out)
      val bBeta = sc.broadcast(betaOut)
      val sums = rows.treeAggregate(new Array[Double](nfolds * L))(
        (s, row) => {
          val (f, idx, vals, yIdx, v) = row
          var l = 0
          while (l < L) {
            val al = bA0.value(f)(l); val bl = bBeta.value(f)(l)
            val eta = new Array[Double](k)
            var mx = Double.NegativeInfinity
            var t = 0
            while (t < k) {
              var e = al(t)
              var i = 0
              while (i < idx.length) { e += bl(t)(idx(i)) * vals(i); i += 1 }
              eta(t) = e; if (e > mx) mx = e
              t += 1
            }
            var z = 0.0
            t = 0
            while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
            s(f * L + l) += v * (measure match {
              case "class" =>
                // argmax with the LARGEST class index winning exact ties
                // (>=): classes are sorted, so this matches classCol's
                // greatest(struct(eta, cls)) tie-break exactly
                var best = 0
                t = 1
                while (t < k) { if (eta(t) >= eta(best)) best = t; t += 1 }
                if (best != yIdx) 1.0 else 0.0
              case "mse" =>
                var acc2 = 0.0
                t = 0
                while (t < k) {
                  val d = eta(t) / z - (if (t == yIdx) 1.0 else 0.0)
                  acc2 += d * d; t += 1
                }
                acc2
              case "mae" =>
                var acc2 = 0.0
                t = 0
                while (t < k) {
                  acc2 += math.abs(eta(t) / z - (if (t == yIdx) 1.0 else 0.0)); t += 1
                }
                acc2
              case "deviance" =>
                val pt = math.min(math.max(eta(yIdx) / z, 1e-5), 1.0 - 1e-5)
                -2.0 * math.log(pt)
              case other => // unreachable: fitSparse validates measures
                throw new IllegalArgumentException(s"unknown measure $other")
            })
            l += 1
          }
          s
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
        depth = 2)
      val foldScores = Array.tabulate(nfolds, L)((f, l) =>
        sums(f * L + l) / wFold(f))
      summarize(params.alpha, lambdas, foldScores, full)
    } finally rows.unpersist(blocking = false)
  }

  /** SPARSE multinomial CV WITH a per-class offset matrix (round 16 —
    * the last sparse × offset × CV composition cell): the
    * [[cvSparseMultinomialShared]] uncentered-sparse FISTA fold-tiling
    * with the [[cvOffsetMultinomialShared]] offset algebra — per-fold
    * offset nulls from one fold-tiled Newton loop (x never enters the
    * null), the offset-corrected sparse null gradient driving the
    * lambda path, the row's offset in every fold's eta, newoffset-
    * scored held-out measures, optional frequency weights; the matrix
    * is never densified. */
  def fitSparseMultinomialWithOffset(df: DataFrame, idxCol: String,
                                     valCol: String, dim: Int,
                                     labelCol: String,
                                     offsetCols: Seq[String],
                                     params: SgdNetParams = SgdNetParams(family = "multinomial"),
                                     nfolds: Int = 10,
                                     measure: String = "deviance",
                                     foldCol: Column = null,
                                     alphas: Seq[Double] = Seq.empty,
                                     weightCol: String = null): CvResult = {
    SgdNet.requireGramP(dim)
    require(nfolds >= 2, "nfolds must be at least 2")
    require(params.family == "multinomial",
      s"fitSparseMultinomialWithOffset is the multinomial CV route, not ${params.family}")
    require(Set("deviance", "mse", "mae", "class").contains(measure),
      s"sparse offset multinomial CV supports class|deviance|mae|mse, not '$measure'")
    val alphaGrid = if (alphas.nonEmpty) alphas else Seq(params.alpha)
    val paths = alphaGrid.map(a => cvSparseOffsetMultinomialShared(df, idxCol,
      valCol, dim, labelCol, offsetCols, params.copy(alpha = a), nfolds,
      foldCol, measure, weightCol))
    val best = paths.minBy(p => p.cvm.min)
    CvResult(paths, best, offsetFit = true)
  }

  private def cvSparseOffsetMultinomialShared(df: DataFrame, idxCol: String,
                                              valCol: String, dim: Int,
                                              labelCol: String,
                                              offsetCols: Seq[String],
                                              params: SgdNetParams,
                                              nfolds: Int, foldCol: Column,
                                              measure: String,
                                              weightCol: String): CvPath = {
    SgdNet.requireNoZeroPf(params, "shared sparse offset multinomial CV")
    val p = dim
    val weighted = weightCol != null
    val classes = SgdNet.multinomialClasses(df, labelCol)
    val k = classes.length
    require(offsetCols.size == k,
      s"multinomial offset needs one column per class (nclass = $k), got ${offsetCols.size}")
    val classIdx = classes.zipWithIndex.toMap
    require(params.penaltyFactor == null ||
      (params.penaltyFactor.length == p && params.penaltyFactor.forall(_ >= 0)),
      "penaltyFactor must have one non-negative entry per feature")

    val wCol = if (weighted) col(weightCol).cast("double") else lit(1.0)
    val hashCols = Seq(col(idxCol), col(valCol), col(labelCol))
    val sc0 = df.sparkSession.sparkContext
    val bClassIdx = sc0.broadcast(classIdx)
    val rows0 = df
      .withColumn("__fold", foldExpr(foldCol, hashCols, nfolds).cast("int"))
      .select((Seq(col(idxCol), col(valCol).cast("array<double>"),
        col(labelCol).cast("string"), col("__fold"), wCol) ++
        offsetCols.map(c => col(c).cast("double"))): _*)
      .rdd.map { r =>
        val off = Array.tabulate(k)(t => r.getDouble(5 + t))
        (r.getInt(3), r.getSeq[Int](0).toArray,
          r.getSeq[Double](1).toArray, bClassIdx.value(r.getString(2)),
          off, r.getDouble(4))
      }
    val rows = (if (weighted)
        rows0.map { t => require(t._6 >= 0, "weights must be non-negative"); t }
          .filter(_._6 > 0)
      else rows0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val F = nfolds + 1
      // ONE pass: per-fold RAW-v sparse moments + Σv + per-class Σv·off
      val zero = (Array.fill(nfolds)(new GramStats(p, k)),
        new Array[Double](nfolds), Array.fill(nfolds)(new Array[Double](k)))
      val (perFold, wFold, oFold) = rows.treeAggregate(zero)(
        (acc, t) => {
          val y = new Array[Double](k); y(t._4) = 1.0
          acc._1(t._1).addSparseWeighted(t._2, t._3, y, t._6)
          acc._2(t._1) += t._6
          var u = 0
          while (u < k) { acc._3(t._1)(u) += t._6 * t._5(u); u += 1 }
          acc
        },
        (a, b) => {
          var i = 0
          while (i < nfolds) {
            a._1(i).merge(b._1(i)); a._2(i) += b._2(i)
            var u = 0
            while (u < k) { a._3(i)(u) += b._3(i)(u); u += 1 }
            i += 1
          }
          a
        }, depth = 2)
      requireNonEmptyFolds(perFold.map(_.n), nfolds)
      val total = new GramStats(p, k)
      perFold.foreach(total.merge)
      val wTotal = wFold.sum
      val oTotal = Array.tabulate(k)(t => oFold.map(_(t)).sum)
      val perFoldExt = perFold :+ new GramStats(p, k)
      val wFoldExt = wFold :+ 0.0
      val oFoldExt = oFold :+ new Array[Double](k)
      val nTrain = Array.tabulate(F)(f => (total.n - perFoldExt(f).n).toDouble)
      val norms = Array.tabulate(F)(f => nTrain(f) / (wTotal - wFoldExt(f)))
      val trainStats = Array.tabulate(F) { f =>
        val tr = new GramStats(p, k).merge(total).subtract(perFoldExt(f))
          .scaleWeights(norms(f))
        SufficientStats.standardize(tr, params.standardize, params.intercept)
      }
      var sharedPasses = 1

      // per-fold offset nulls: fold-tiled Newton (identical to the
      // dense offset CV — x never enters the null)
      val a0Null = Array.tabulate(F) { f =>
        val tw = wTotal - wFoldExt(f)
        Array.tabulate(k)(t =>
          if (params.intercept)
            math.log(math.max(trainStats(f).yMean(t), 1e-12)) -
              (oTotal(t) - oFoldExt(f)(t)) / tw
          else 0.0)
      }
      if (params.intercept) {
        val cell = k + k * k
        var it = 0
        var done = false
        while (it < 50 && !done) {
          val a0Snap = a0Null.map(_.clone())
          val acc = rows.treeAggregate(new Array[Double](F * cell))(
            (s, t) => {
              val (rowFold, _, _, yIdx, off, v) = t
              var f = 0
              while (f < F) {
                if (f != rowFold) {
                  val af = a0Snap(f)
                  val pr = new Array[Double](k)
                  var mx = Double.NegativeInfinity
                  var u = 0
                  while (u < k) {
                    pr(u) = af(u) + off(u); if (pr(u) > mx) mx = pr(u); u += 1
                  }
                  var z = 0.0
                  u = 0
                  while (u < k) { pr(u) = math.exp(pr(u) - mx); z += pr(u); u += 1 }
                  val base = f * cell
                  u = 0
                  while (u < k) {
                    pr(u) /= z
                    s(base + u) += v * (pr(u) - (if (u == yIdx) 1.0 else 0.0))
                    var w2 = 0
                    while (w2 < k) {
                      s(base + k + u * k + w2) += v *
                        (if (u == w2) pr(u) * (1.0 - pr(u)) else -pr(u) * pr(w2))
                      w2 += 1
                    }
                    u += 1
                  }
                }
                f += 1
              }
              s
            },
            (a, b) => {
              var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
            }, depth = 2)
          sharedPasses += 1
          var mx = 0.0
          for (f <- 0 until F) {
            val tw = wTotal - wFoldExt(f)
            val base = f * cell
            val gvec = Array.tabulate(k)(t => acc(base + t) / tw)
            val gInf = gvec.map(math.abs).max
            if (gInf > mx) mx = gInf
            if (gInf >= 1e-12) {
              val h = Array.tabulate(k, k)((i2, j2) =>
                acc(base + k + i2 * k + j2) / tw + (if (i2 == j2) 1e-9 else 0.0))
              val d = LinAlg.solve(h, gvec)
              var t = 0
              while (t < k) { a0Null(f)(t) -= d(t); t += 1 }
            }
          }
          it += 1
          if (mx < 1e-12) done = true
        }
      }

      val means = trainStats.map(st =>
        if (params.intercept) st.xMean else new Array[Double](p))
      val scales = trainStats.map(st =>
        if (params.standardize) st.xSd else Array.fill(p)(1.0))
      val boundsF = scales.map(s => SgdNet.boundsStd(params, s, 1.0))
      val pf = params.penaltyFactor
      val grouped = params.typeMultinomial == "grouped"
      val steps = trainStats.map(st => 1.0 / (0.5 * LinAlg.maxEig(st.gram) + 1e-9))
      val sc = rows.sparkContext

      val lambdas =
        if (params.lambda != null) params.lambda
        else {
          // offset-corrected sparse null gradient on the full data:
          // uncentered Σr·x over the nonzeros + Σr per class, centered
          // driver-side
          val minRatio = if (params.lambdaMinRatio.isNaN)
            LambdaPath.defaultMinRatio(total.n, p) else params.lambdaMinRatio
          val a0N = a0Null(nfolds)
          val nrm = norms(nfolds)
          val acc = rows.treeAggregate(new Array[Double](k * (p + 1)))(
            (s, t) => {
              val (_, idx, vals, yIdx, off, v) = t
              val pr = new Array[Double](k)
              var mx = Double.NegativeInfinity
              var u = 0
              while (u < k) {
                pr(u) = a0N(u) + off(u); if (pr(u) > mx) mx = pr(u); u += 1
              }
              var z = 0.0
              u = 0
              while (u < k) { pr(u) = math.exp(pr(u) - mx); z += pr(u); u += 1 }
              u = 0
              while (u < k) {
                val r = v * nrm * ((if (u == yIdx) 1.0 else 0.0) - pr(u) / z)
                s(u * (p + 1)) += r
                var i = 0
                while (i < idx.length) {
                  s(u * (p + 1) + 1 + idx(i)) += r * vals(i); i += 1
                }
                u += 1
              }
              s
            },
            (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
            depth = 2)
          sharedPasses += 1
          val mF = means(nfolds); val sF = scales(nfolds)
          val bNull = Array.tabulate(k, p)((t, j) =>
            (acc(t * (p + 1) + 1 + j) - mF(j) * acc(t * (p + 1))) / sF(j) /
              nTrain(nfolds))
          val bArg = if (grouped) bNull else Array(bNull.flatten)
          val pfArg = if (pf == null) null
            else if (grouped) pf
            else Array.tabulate(k * p)(i => pf(i % p))
          LambdaPath.build(bArg, params.alpha, params.nlambda, minRatio, pfArg)
        }

      val L = lambdas.length
      val beta = Array.fill(F)(Array.ofDim[Double](k, p))
      val a0 = a0Null.map(_.clone())
      val a0Out = Array.ofDim[Double](F, L, k)
      val betaOut = Array.ofDim[Double](F, L, k, p)

      for (l <- 0 until L) {
        val lam = lambdas(l)
        val active = Array.fill(F)(true)
        val yB = beta.map(_.map(_.clone()))
        val yA = a0.map(_.clone())
        val tk = Array.fill(F)(1.0)
        var iter = 0
        while (iter < params.maxit && active.exists(identity)) {
          val activeSnap = active.clone()
          sharedPasses += 1
          // per-fold iterates on the ORIGINAL sparse scale: eta_t =
          // centerOff(f)(t) + rowOff(t) + Σ vals·bOverS(f)(t)(idx)
          val bOverS = Array.tabulate(F, k, p)((f, t, j) =>
            yB(f)(t)(j) / scales(f)(j))
          val centerOff = Array.tabulate(F, k) { (f, t) =>
            var o = yA(f)(t)
            var j = 0
            while (j < p) { o -= means(f)(j) * bOverS(f)(t)(j); j += 1 }
            o
          }
          val bc = sc.broadcast((bOverS, centerOff, norms))
          val acc = rows.treeAggregate(new Array[Double](F * k * (p + 1)))(
            (s, row) => {
              val (rowFold, idx, vals, yIdx, off, v) = row
              val (bos, cOff, nrm) = bc.value
              var f = 0
              while (f < F) {
                if (f != rowFold && activeSnap(f)) {
                  val eta = new Array[Double](k)
                  var mx = Double.NegativeInfinity
                  var t = 0
                  while (t < k) {
                    var e = cOff(f)(t) + off(t)
                    var i = 0
                    while (i < idx.length) { e += vals(i) * bos(f)(t)(idx(i)); i += 1 }
                    eta(t) = e; if (e > mx) mx = e
                    t += 1
                  }
                  var z = 0.0
                  t = 0
                  while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
                  val vn = v * nrm(f)
                  val base = f * k * (p + 1)
                  t = 0
                  while (t < k) {
                    val r = vn * (eta(t) / z - (if (t == yIdx) 1.0 else 0.0))
                    s(base + t * (p + 1)) += r
                    var i = 0
                    while (i < idx.length) {
                      s(base + t * (p + 1) + 1 + idx(i)) += r * vals(i)
                      i += 1
                    }
                    t += 1
                  }
                }
                f += 1
              }
              s
            },
            (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
            depth = 2)
          // driver-side FISTA prox step per active fold — identical to
          // cvSparseMultinomialShared's (the centering correction is
          // sparseSoftmaxGrad's)
          for (f <- 0 until F if active(f)) {
            val base = f * k * (p + 1)
            val ninv = 1.0 / nTrain(f)
            val grad = Array.tabulate(k, p)((t, j) =>
              (acc(base + t * (p + 1) + 1 + j) -
                means(f)(j) * acc(base + t * (p + 1))) / scales(f)(j) * ninv)
            val gradA0 = Array.tabulate(k)(t => acc(base + t * (p + 1)) * ninv)
            val step = steps(f)
            val (lo, up) = boundsF(f)
            val nb = Array.ofDim[Double](k, p)
            val na = new Array[Double](k)
            var maxD = 0.0
            for (t <- 0 until k) {
              na(t) = if (params.intercept) yA(f)(t) - step * gradA0(t) else 0.0
              val d0 = math.abs(na(t) - a0(f)(t)); if (d0 > maxD) maxD = d0
            }
            for (j <- 0 until p) {
              val pfj = if (pf == null) 1.0 else pf(j)
              if (grouped) {
                val v = Array.tabulate(k)(t => yB(f)(t)(j) - step * grad(t)(j))
                val g = step * lam * params.alpha * pfj
                if (lo != null || up != null) {
                  val q = 1.0 + step * lam * (1.0 - params.alpha) * pfj
                  val loJ = Array.fill(k)(
                    if (lo == null) Double.NegativeInfinity else lo(j))
                  val upJ = Array.fill(k)(
                    if (up == null) Double.PositiveInfinity else up(j))
                  val u = LinAlg.boxedGroupProx(v, q, g, loJ, upJ,
                    new Array[Double](k))
                  for (t <- 0 until k) {
                    nb(t)(j) = u(t)
                    val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                  }
                } else {
                  var nrm2 = 0.0
                  v.foreach(x => nrm2 += x * x)
                  nrm2 = math.sqrt(nrm2)
                  val shrink =
                    if (nrm2 > g)
                      (1.0 - g / nrm2) /
                        (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                    else 0.0
                  for (t <- 0 until k) {
                    nb(t)(j) = v(t) * shrink
                    val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                  }
                }
              } else {
                for (t <- 0 until k) {
                  val v = yB(f)(t)(j) - step * grad(t)(j)
                  var x = LinAlg.softThreshold(v,
                    step * lam * params.alpha * pfj) /
                    (1.0 + step * lam * (1.0 - params.alpha) * pfj)
                  if (lo != null && x < lo(j)) x = lo(j)
                  if (up != null && x > up(j)) x = up(j)
                  nb(t)(j) = x
                  val d = math.abs(nb(t)(j) - beta(f)(t)(j)); if (d > maxD) maxD = d
                }
              }
            }
            var restartDot = 0.0
            for (t <- 0 until k; j <- 0 until p)
              restartDot += grad(t)(j) * (nb(t)(j) - beta(f)(t)(j))
            for (t <- 0 until k) restartDot += gradA0(t) * (na(t) - a0(f)(t))
            val tk1 = if (restartDot > 0) 1.0
              else (1.0 + math.sqrt(1.0 + 4.0 * tk(f) * tk(f))) / 2.0
            val mom = if (restartDot > 0) 0.0 else (tk(f) - 1.0) / tk1
            for (t <- 0 until k; j <- 0 until p)
              yB(f)(t)(j) = nb(t)(j) + mom * (nb(t)(j) - beta(f)(t)(j))
            for (t <- 0 until k) yA(f)(t) = na(t) + mom * (na(t) - a0(f)(t))
            beta(f) = nb; a0(f) = na; tk(f) = tk1
            if (maxD < math.max(params.thresh * 1e-3, 1e-8)) active(f) = false
          }
          iter += 1
        }
        for (f <- 0 until F) {
          for (t <- 0 until k; j <- 0 until p)
            betaOut(f)(l)(t)(j) = beta(f)(t)(j) / scales(f)(j)
          for (t <- 0 until k)
            a0Out(f)(l)(t) = if (params.intercept)
              a0(f)(t) - (0 until p).map(j => betaOut(f)(l)(t)(j) * means(f)(j)).sum
            else a0(f)(t)
        }
      }

      // full-data model (virtual fold) + sparse offset deviance pass
      // (L path deviances AND the offset-null deviance in one scan)
      val a0Full = Array.tabulate(L)(l => a0Out(nfolds)(l).clone())
      val betaFull = Array.tabulate(L)(l => betaOut(nfolds)(l).map(_.clone()))
      val a0NullFull = a0Null(nfolds)
      val normFull = norms(nfolds)
      val devs = rows.treeAggregate(new Array[Double](L + 1))(
        (acc, row) => {
          val (_, idx, vals, yIdx, off, v) = row
          val vn = v * normFull
          def negLl(a0v: Array[Double], bv: Array[Array[Double]]): Double = {
            val eta = new Array[Double](k)
            var mx = Double.NegativeInfinity
            var t = 0
            while (t < k) {
              var e = a0v(t) + off(t)
              if (bv != null) {
                var i = 0
                while (i < idx.length) { e += bv(t)(idx(i)) * vals(i); i += 1 }
              }
              eta(t) = e; if (e > mx) mx = e
              t += 1
            }
            var z = 0.0
            t = 0
            while (t < k) { z += math.exp(eta(t) - mx); t += 1 }
            -2.0 * (eta(yIdx) - (mx + math.log(z)))
          }
          var l = 0
          while (l < L) {
            acc(l) += vn * negLl(a0Full(l), betaFull(l))
            l += 1
          }
          acc(L) += vn * negLl(a0NullFull, null)
          acc
        },
        (a, b) => { var i = 0; while (i <= L) { a(i) += b(i); i += 1 }; a },
        depth = 2)
      val nulldev = devs(L)
      val devRatio = Array.tabulate(L)(l =>
        SgdNetModel.devRatio(devs(l), nulldev))
      val names = (0 until p).map(j => s"V$j").toArray
      val full = new SgdNetModel("multinomial", names,
        Array(labelCol), classes, lambdas, a0Full, betaFull, nulldev,
        devRatio, total.n, sharedPasses + 2, params)

      // held-out scoring: sparse eta + the row's own offset (newoffset)
      val bA0 = sc.broadcast(a0Out)
      val bBeta = sc.broadcast(betaOut)
      val sums = rows.treeAggregate(new Array[Double](nfolds * L))(
        (s, row) => {
          val (f, idx, vals, yIdx, off, v) = row
          var l = 0
          while (l < L) {
            val al = bA0.value(f)(l); val bl = bBeta.value(f)(l)
            val eta = new Array[Double](k)
            var mx = Double.NegativeInfinity
            var t = 0
            while (t < k) {
              var e = al(t) + off(t)
              var i = 0
              while (i < idx.length) { e += bl(t)(idx(i)) * vals(i); i += 1 }
              eta(t) = e; if (e > mx) mx = e
              t += 1
            }
            var z = 0.0
            t = 0
            while (t < k) { eta(t) = math.exp(eta(t) - mx); z += eta(t); t += 1 }
            s(f * L + l) += v * (measure match {
              case "class" =>
                var best = 0
                t = 1
                while (t < k) { if (eta(t) >= eta(best)) best = t; t += 1 }
                if (best != yIdx) 1.0 else 0.0
              case "mse" =>
                var acc2 = 0.0
                t = 0
                while (t < k) {
                  val d = eta(t) / z - (if (t == yIdx) 1.0 else 0.0)
                  acc2 += d * d; t += 1
                }
                acc2
              case "mae" =>
                var acc2 = 0.0
                t = 0
                while (t < k) {
                  acc2 += math.abs(eta(t) / z - (if (t == yIdx) 1.0 else 0.0)); t += 1
                }
                acc2
              case "deviance" =>
                val pt = math.min(math.max(eta(yIdx) / z, 1e-5), 1.0 - 1e-5)
                -2.0 * math.log(pt)
              case other => // unreachable: the entry point validates
                throw new IllegalArgumentException(s"unknown measure $other")
            })
            l += 1
          }
          s
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
        depth = 2)
      val foldScores = Array.tabulate(nfolds, L)((f, l) =>
        sums(f * L + l) / wFold(f))
      summarize(params.alpha, lambdas, foldScores, full)
    } finally rows.unpersist(blocking = false)
  }

  // ------------------------------------------------- generic per-fold refit

  private[ml] def cvGeneric(df: DataFrame, featureCols: Seq[String],
                        labelCols: Seq[String], params: SgdNetParams,
                        nfolds: Int, measure: String,
                        foldCol: Column = null): CvPath = {
    // binomial (the only auc-capable family) always routes to
    // cvIrls, so auc cannot be satisfied here
    if (measure == "auc")
      throw new IllegalArgumentException(
        s"auc requires the binomial family, not ${params.family}")
    val full = SgdNet.fitMulti(df, featureCols, labelCols, params)
    val lambdas = full.lambda
    val hashCols = (featureCols ++ labelCols).map(col)
    val withFold = df.withColumn("__fold", foldExpr(foldCol, hashCols, nfolds))
      .cache()
    try {
      val L = lambdas.length
      val foldScores = Array.ofDim[Double](nfolds, L)
      for (f <- 0 until nfolds) {
        val train = withFold.filter(col("__fold") =!= f)
        val test = withFold.filter(col("__fold") === f)
        val m = SgdNet.fitMulti(train, featureCols, labelCols,
          params.copy(lambda = lambdas))
        val scores = scoreAllLambdas(m, test, measure)
        for (l <- 0 until L) foldScores(f)(l) = scores(l)
      }
      summarize(params.alpha, lambdas, foldScores, full)
    } finally { withFold.unpersist(blocking = false) }
  }

  /** Cross-validation WITH OBSERVATION WEIGHTS (cv.glmnet `weights`) —
    * SHARED-PASS routes for every supported family (round 15; the k+1
    * per-fold-refit route survives as [[cvWeightedGeneric]], the parity
    * reference the specs compare these against):
    *
    *  - gaussian / mgaussian: ONE raw-v weighted-moment pass. Each
    *    fold's train statistics are "total minus fold" rescaled to that
    *    fold's own sum-to-n_train weight normalization — moments are
    *    LINEAR in v, so accumulating with raw v once and applying the
    *    per-fold multiplier driver-side reproduces a standalone
    *    [[SgdNet.fitWeighted]] on the train rows exactly. Held-out
    *    wMSE/deviance are v-weighted moment forms (mae adds one
    *    aggregation). CV cost: ONE data pass (+1 for mae) regardless of
    *    nfolds and of the alpha grid (moments are alpha-independent).
    *  - binomial / poisson: the shared IRLS path [[cvIrls]] — all
    *    folds advance in one pass per Newton round with v·norm_f folded
    *    into each fold's IRLS weight, the full-data fit riding as the
    *    virtual fold.
    *
    *  - multinomial: shared FISTA on the [[cvMultinomialShared]]
    *    chassis with vn·(p−y) gradient contributions
    *    (`cvWeightedMultinomialShared`).
    *
    * Measures: deviance|mse|mae for every family; binomial adds class
    * and the v-weighted AUC (continuous-mass rank statistic —
    * reference R/cv_sgdnet.R:119-128, R/score.R); multinomial adds
    * class. `alphas` spans an alpha grid exactly like [[fit]].
    * Held-out scores are the v-weighted mean Σv·err/Σv with RAW
    * weights (normalization-free ratio — glmnet's weighted-CV
    * convention). Zero-weight rows drop from training and contribute
    * zero mass to scoring. mgaussian goes through
    * [[fitWeightedMulti]]. */
  def fitWeighted(df: DataFrame, featureCols: Seq[String], labelCol: String,
                  weightCol: String,
                  params: SgdNetParams = SgdNetParams(),
                  nfolds: Int = 10,
                  measure: String = "deviance",
                  foldCol: Column = null,
                  alphas: Seq[Double] = Seq.empty): CvResult =
    fitWeightedMulti(df, featureCols, Seq(labelCol), weightCol, params,
      nfolds, measure, foldCol, alphas)

  /** [[fitWeighted]] with a multi-column response — the mgaussian
    * weighted-CV route (also accepts the gaussian k = 1 case). */
  def fitWeightedMulti(df: DataFrame, featureCols: Seq[String],
                       labelCols: Seq[String], weightCol: String,
                       params: SgdNetParams = SgdNetParams(),
                       nfolds: Int = 10,
                       measure: String = "deviance",
                       foldCol: Column = null,
                       alphas: Seq[Double] = Seq.empty): CvResult = {
    SgdNet.requireGramP(featureCols.size)
    require(nfolds >= 2, "nfolds must be at least 2")
    val okMeasures = params.family match {
      case "binomial"    => Set("deviance", "mse", "mae", "class", "auc")
      case "multinomial" => Set("deviance", "mse", "mae", "class")
      case _             => Set("deviance", "mse", "mae")
    }
    require(okMeasures.contains(measure),
      s"weighted ${params.family} CV supports " +
        s"${okMeasures.toSeq.sorted.mkString("|")}, not '$measure'")
    require(params.family == "mgaussian" || labelCols.size == 1,
      s"response for ${params.family} must be one-dimensional " +
        "(use family=\"mgaussian\" for multi-response)")
    val alphaGrid = if (alphas.nonEmpty) alphas else Seq(params.alpha)
    val paths = params.family match {
      case "gaussian" | "mgaussian" =>
        cvWeightedGaussian(df, featureCols, labelCols, weightCol, params,
          nfolds, alphaGrid, measure, foldCol)
      case "binomial" | "poisson" =>
        cvIrls(df, labelCols.head, params, nfolds, alphaGrid, measure,
          weighted = true, hasOffset = false, featureCols.toArray,
          denseIrlsRows(df, featureCols, labelCols.head, nfolds, foldCol,
            weightCol, null))
      case "multinomial" =>
        alphaGrid.map(a => cvWeightedMultinomialShared(df, featureCols,
          labelCols.head, weightCol, params.copy(alpha = a), nfolds, foldCol,
          measure))
      case f => throw new IllegalArgumentException(
        s"weighted CV supports gaussian, mgaussian, binomial, poisson, " +
          s"multinomial, not $f")
    }
    val best = paths.minBy(p => p.cvm.min)
    CvResult(paths, best)
  }

  /** The pre-round-15 weighted-CV route — k+1 independent
    * [[SgdNet.fitWeighted]] fits, one per fold plus the full data.
    * Kept as the parity reference: WeightedCvSpec asserts the shared
    * routes above reproduce this route's curves within the convergence
    * tolerance. Not the production path (nfolds+1 full scan sets). */
  private[ml] def cvWeightedGeneric(df: DataFrame, featureCols: Seq[String],
                  labelCol: String, weightCol: String,
                  params: SgdNetParams = SgdNetParams(),
                  nfolds: Int = 10,
                  measure: String = "deviance",
                  foldCol: Column = null): CvResult = {
    require(nfolds >= 2, "nfolds must be at least 2")
    require(Set("deviance", "mse", "mae").contains(measure),
      s"weighted generic CV supports deviance|mse|mae, not '$measure'")
    val full = SgdNet.fitWeighted(df, featureCols, labelCol, weightCol, params)
    val lambdas = full.lambda
    val hashCols = (featureCols :+ labelCol).map(col)
    val withFold = df.withColumn("__fold", foldExpr(foldCol, hashCols, nfolds))
      .cache()
    try {
      val L = lambdas.length
      val foldScores = Array.ofDim[Double](nfolds, L)
      for (f <- 0 until nfolds) {
        val train = withFold.filter(col("__fold") =!= f)
        val test = withFold.filter(col("__fold") === f)
        val m = SgdNet.fitWeighted(train, featureCols, labelCol, weightCol,
          params.copy(lambda = lambdas))
        val scores = scoreAllLambdasImpl(m, test, measure, weightCol)
        for (l <- 0 until L) foldScores(f)(l) = scores(l)
      }
      val path = summarize(params.alpha, lambdas, foldScores, full)
      CvResult(Seq(path), path)
    } finally { withFold.unpersist(blocking = false); () }
  }

  // ------------------------------------ weighted gaussian/mgaussian, one-pass

  /** One-pass weighted gaussian/mgaussian CV (see [[fitWeighted]]).
    * Returns one CvPath per alpha — the raw-v moments serve the whole
    * grid. */
  private def cvWeightedGaussian(df: DataFrame, featureCols: Seq[String],
                                 labelCols: Seq[String], weightCol: String,
                                 params: SgdNetParams, nfolds: Int,
                                 alphaGrid: Seq[Double], measure: String,
                                 foldCol: Column): Seq[CvPath] = {
    // cv.glmnet limits: gaussian's 1-D clipped prox and (round 16) the
    // mgaussian boxed group prox both ride solveGaussianFromStats
    val p = featureCols.size
    val k = labelCols.size
    val hashCols = (featureCols ++ labelCols).map(col)
    val withFold = df.withColumn("__fold", foldExpr(foldCol, hashCols, nfolds))
    val rdd = withFold.select(
        (featureCols.map(c => col(c).cast("double")) ++
          labelCols.map(c => col(c).cast("double")) :+
          col(weightCol).cast("double") :+
          col("__fold").cast("int")): _*)
      .rdd.map { row =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = row.getDouble(j); j += 1 }
        val y = new Array[Double](k)
        var t = 0
        while (t < k) { y(t) = row.getDouble(p + t); t += 1 }
        (row.getInt(p + k + 1), x, y, row.getDouble(p + k))
      }
    // ONE pass: per-fold RAW-v weighted moments + per-fold Σv. w == 0
    // drops the observation (n counts kept rows, glmnet convention).
    val zero = (Array.fill(nfolds)(new GramStats(p, k)),
      new Array[Double](nfolds))
    val (perFold, wFold) = rdd.treeAggregate(zero)(
      seqOp = (acc, r) => {
        require(r._4 >= 0, "weights must be non-negative")
        if (r._4 > 0) {
          acc._1(r._1).addWeighted(r._2, r._3, r._4); acc._2(r._1) += r._4
        }
        acc
      },
      combOp = (a, b) => {
        var i = 0
        while (i < nfolds) { a._1(i).merge(b._1(i)); a._2(i) += b._2(i); i += 1 }
        a
      }, depth = 2)
    requireNonEmptyFolds(perFold.map(_.n), nfolds)
    val total = new GramStats(p, k)
    perFold.foreach(total.merge)
    val wTotal = wFold.sum
    require(total.n > 0, "the response (y) is empty.")
    // train = total − fold, rescaled to the fold's OWN sum-to-n_train
    // weight normalization — what a standalone SgdNet.fitWeighted on
    // the train rows computes
    def trainStats(f: Int): GramStats = {
      val tr = new GramStats(p, k).merge(total).subtract(perFold(f))
      tr.scaleWeights(tr.n.toDouble / (wTotal - wFold(f)))
    }
    val totalNorm = new GramStats(p, k).merge(total)
      .scaleWeights(total.n.toDouble / wTotal)
    alphaGrid.map { a =>
      val prm = params.copy(alpha = a)
      val full = SgdNet.solveGaussianFromStats(totalNorm, featureCols,
        labelCols, prm) // defines lambda
      val lambdas = full.lambda
      val L = lambdas.length
      val foldScores = Array.ofDim[Double](nfolds, L)
      val a0Out = Array.ofDim[Double](nfolds, L, k)
      val bOut = Array.ofDim[Double](nfolds, L, k, p)
      for (f <- 0 until nfolds) {
        val fm = SgdNet.solveGaussianFromStats(trainStats(f), featureCols,
          labelCols, prm.copy(lambda = lambdas))
        for (l <- 0 until L; t <- 0 until k) {
          a0Out(f)(l)(t) = fm.a0(l)(t)
          for (j <- 0 until p) bOut(f)(l)(t)(j) = fm.beta(l)(t)(j)
        }
        if (measure != "mae") {
          // held-out v-weighted (mse == deviance) from fold-f's RAW-v
          // moments, Σv·(y − a0 − x'b)²/Σv summed across responses
          val fg = perFold(f)
          val wf = wFold(f)
          for (l <- 0 until L) {
            var s = 0.0
            for (t <- 0 until k) {
              val a0 = a0Out(f)(l)(t)
              val bt = bOut(f)(l)(t)
              var quad = 0.0; var bx = 0.0; var bxy = 0.0
              for (j <- 0 until p) {
                bx += bt(j) * fg.sumX(j) / wf
                bxy += bt(j) * fg.xty(j * k + t) / wf
                var sj = 0.0
                for (m <- 0 until p) sj += fg.xtx(LinAlg.triIdx(j, m)) / wf * bt(m)
                quad += bt(j) * sj
              }
              s += fg.sumYY(t) / wf - 2 * a0 * fg.sumY(t) / wf + a0 * a0 +
                quad + 2 * a0 * bx - 2 * bxy
            }
            foldScores(f)(l) = s
          }
        }
      }
      if (measure == "mae") {
        // Σv·|err|/Σv per (fold, lambda) — ONE aggregation, v-weighted
        // twin of the unweighted mae cells
        val v = col(weightCol).cast("double")
        val cells = for (f <- 0 until nfolds; l <- 0 until L) yield {
          val err = (0 until k).map { t =>
            val eta = featureCols.zipWithIndex.foldLeft(lit(a0Out(f)(l)(t))) {
              case (acc2, (c, j)) =>
                val w = bOut(f)(l)(t)(j)
                if (w == 0.0) acc2 else acc2 + col(c) * lit(w)
            }
            abs(col(labelCols(t)).cast("double") - eta)
          }.reduce(_ + _)
          (sum(when(col("__fold") === f, v * err)) /
            sum(when(col("__fold") === f, v))).as(s"m_${f}_$l")
        }
        val row = withFold.agg(cells.head, cells.tail: _*).head()
        for (f <- 0 until nfolds; l <- 0 until L)
          foldScores(f)(l) =
            if (row.isNullAt(f * L + l)) Double.NaN else row.getDouble(f * L + l)
      }
      summarize(a, lambdas, foldScores, full)
    }
  }

  /** Per-group AUC (average-rank Mann–Whitney) with NO single-partition
    * sort anywhere — the grouped generalization of
    * [[SgdNetModel.aucOf]]'s two-pass rank: distinct (group, score)
    * aggregation, range partition + local sort on (group, score), pass
    * one collects per-(partition, group) count totals (tiny), whose
    * group-wise running sums give each (partition, group) its rank
    * offset; pass two turns offset + local running count into rank
    * sums. Continuous scores (~all distinct) are exactly the case a
    * group-partitioned Window would degrade on. Deterministic average
    * ranks where the reference randomizes ties with runif
    * (R/score.R:218-226) — equal in expectation, reproducible here.
    * Input columns: __g (int group), __s (score), __y (0/1 label).
    *
    * With `weightCol` non-null the statistic is the v-WEIGHTED AUC
    * (cv.glmnet weights): cells carry mass cnt = Σv / pos = Σv·y, and
    * the rank algebra switches to its continuous-mass form — per-cell
    * contribution pos·(cum + cnt/2) and correction P²/2 instead of the
    * integer-rank pos·(cum + (cnt+1)/2) and P(P+1)/2 (the two agree
    * exactly when every v = 1: the Σpos·½ = P/2 halves cancel). */
  private[ml] def aucPerGroup(scored: DataFrame, nGroups: Int,
                          maxLocalCells: Long = 1L << 20,
                          weightCol: String = null): Array[Double] = {
    val grouped = scored.groupBy(col("__g"), col("__s"))
    val perScore = (if (weightCol == null)
        grouped.agg(count(lit(1)).cast("double").as("cnt"),
          sum(when(col("__y") === 1.0, 1.0).otherwise(0.0)).as("pos"))
      else
        grouped.agg(sum(col(weightCol).cast("double")).as("cnt"),
          sum(when(col("__y") === 1.0, col(weightCol).cast("double"))
            .otherwise(0.0)).as("pos")))
      .select(col("__g").cast("int").as("__g"), col("__s").cast("double").as("__s"),
        col("cnt"), col("pos"))
    // RDD-level cache (optimization round 18): the former DataFrame
    // persist pinned the exchange at full shuffle parallelism (AQE may
    // not re-optimize under a cache) and paid a columnar cache build —
    // probe-measured 2-4x slower on the Quantiles/Drift twins of this
    // shape. The cardinality gate, the driver fast path and the
    // distributed two-pass rank all read this one cache.
    val cellsRdd = perScore.rdd
      .map(r => ((r.getInt(0), r.getDouble(1)),
        (r.getDouble(2), r.getDouble(3))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // integer-rank midrank offset (+1/2 per cell) and rank-sum
    // correction differ between the count and continuous-mass forms
    val halfOff = if (weightCol == null) 0.5 else 0.0
    def rankCorr(p: Double): Double =
      if (weightCol == null) p * (p + 1) / 2.0 else p * p / 2.0
    // Bounded small-side fast path: the rank statistic runs over the
    // DISTINCT (group, score) aggregation, which for low-cardinality
    // scores is tiny even when the corpus is not. Below an explicit cell
    // bound (default 2^20 ≈ 32 MB), compute the ranks on the driver in
    // one collect instead of a range-partition chain (sample job + two
    // rank passes). The size gate is a count() — it materializes the
    // persisted aggregate (which BOTH paths then reuse from cache) and
    // transfers no rows, so continuous-score data at scale pays nothing
    // before taking the distributed two-pass rank below.
    try {
    if (cellsRdd.count() <= maxLocalCells) {
      val probe = cellsRdd.collect()
      val np = Array.fill(nGroups)(0.0)
      val total = Array.fill(nGroups)(0.0)
      val rpos = Array.fill(nGroups)(0.0)
      val cum = Array.fill(nGroups)(0.0)
      probe.foreach { case ((g, _), (cnt, pos)) =>
        total(g) += cnt; np(g) += pos
      }
      probe.sortBy(_._1).foreach { case ((g, _), (cnt, pos)) =>
        rpos(g) += pos * (cum(g) + cnt / 2.0 + halfOff)
        cum(g) += cnt
      }
      return Array.tabulate(nGroups) { g =>
        val nn = total(g) - np(g)
        if (np(g) == 0 || nn == 0) Double.NaN
        else (rpos(g) - rankCorr(np(g))) / (np(g) * nn)
      }
    }
    val rdd = cellsRdd.repartitionAndSortWithinPartitions(
        new org.apache.spark.RangePartitioner(
          math.max(1, cellsRdd.sparkContext.defaultParallelism), cellsRdd))
      .map { case ((g, _), (cnt, pos)) => (g, cnt, pos) }
    locally {
      val totals = rdd.mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[Int, (Double, Double)]
        it.foreach { case (f, cnt, pos) =>
          val cur = m.getOrElse(f, (0.0, 0.0))
          m(f) = (cur._1 + cnt, cur._2 + pos)
        }
        m.iterator.map { case (f, (c, pz)) => (pid, f, c, pz) }
      }.collect()
      val np = Array.fill(nGroups)(0.0)
      val total = Array.fill(nGroups)(0.0)
      totals.foreach { case (_, f, c, pz) => total(f) += c; np(f) += pz }
      // group-wise rank offsets per partition: counts of the same group
      // in earlier partitions (range partitioning orders (group, score))
      val offsets = scala.collection.mutable.HashMap.empty[(Int, Int), Double]
      val acc = Array.fill(nGroups)(0.0)
      totals.sortBy(_._1).foreach { case (pid, f, c, _) =>
        offsets((pid, f)) = acc(f); acc(f) += c
      }
      val bcOff = rdd.sparkContext.broadcast(offsets.toMap)
      val rpos = Array.fill(nGroups)(0.0)
      rdd.mapPartitionsWithIndex { (pid, it) =>
        val off = bcOff.value
        val cum = scala.collection.mutable.HashMap.empty[Int, Double]
        val r = scala.collection.mutable.HashMap.empty[Int, Double]
        it.foreach { case (f, cnt, pos) =>
          val c = cum.getOrElse(f, off.getOrElse((pid, f), 0.0))
          r(f) = r.getOrElse(f, 0.0) + pos * (c + cnt / 2.0 + halfOff)
          cum(f) = c + cnt
        }
        r.iterator
      }.reduceByKey(_ + _).collect()
        .foreach { case (f, v) => rpos(f) = v }
      Array.tabulate(nGroups) { g =>
        val nn = total(g) - np(g)
        if (np(g) == 0 || nn == 0) Double.NaN
        else (rpos(g) - rankCorr(np(g))) / (np(g) * nn)
      }
    }
    } finally cellsRdd.unpersist(blocking = false)
  }

  /** Held-out score per lambda in ONE aggregation over the test fold. */
  private def scoreAllLambdas(m: SgdNetModel, test: DataFrame,
                              measure: String): Array[Double] =
    scoreAllLambdasImpl(m, test, measure, weightCol = null)

  /** Per-lambda held-out scores; with `weightCol` non-null the measure
    * is the v-weighted mean Σv·err/Σv (cv.glmnet weights semantics —
    * normalization-free ratio, so raw weights are used as given). */
  private def scoreAllLambdasImpl(m: SgdNetModel, test: DataFrame,
                                  measure: String,
                                  weightCol: String): Array[Double] = {
    val L = m.nLambda
    val label = col(m.responseNames(0))
    def avg(e: Column): Column =
      if (weightCol == null) org.apache.spark.sql.functions.avg(e)
      else sum(col(weightCol).cast("double") * e) /
        sum(col(weightCol).cast("double"))
    val cols: Seq[Column] = (0 until L).map { l =>
      (m.family, measure) match {
        case ("gaussian", "mae") =>
          avg(abs(label.cast("double") - m.linkCol(l)))
        case ("gaussian", "mse" | "deviance") =>
          avg(pow(label.cast("double") - m.linkCol(l), 2))
        case ("mgaussian", ms @ ("mse" | "deviance" | "mae")) =>
          // reference score.sgdnet_mgaussian sums errors ACROSS responses
          // (colSums over the response axis) before averaging rows
          val terms = (0 until m.nResponses).map { t =>
            val d = col(m.responseNames(t)).cast("double") - m.linkCol(l, t)
            if (ms == "mae") abs(d) else pow(d, 2)
          }
          avg(terms.reduce(_ + _))
        case ("binomial", "deviance") =>
          val pm = m.responseCol(l)
          val pc = least(greatest(pm, lit(1e-5)), lit(1.0 - 1e-5))
          val y = (label.cast("string") === lit(m.classLabels(1))).cast("double")
          avg(lit(-2.0) * (y * log(pc) + (lit(1.0) - y) * log(lit(1.0) - pc)))
        case ("binomial", "mse") =>
          // reference one-hot form (p + y1 - 1)^2 + (p - y2)^2 == 2(p - y)^2
          val y = (label.cast("string") === lit(m.classLabels(1))).cast("double")
          avg(lit(2.0) * pow(m.responseCol(l) - y, 2))
        case ("binomial", "mae") =>
          val y = (label.cast("string") === lit(m.classLabels(1))).cast("double")
          avg(lit(2.0) * abs(m.responseCol(l) - y))
        case ("binomial", "class") | ("multinomial", "class") =>
          avg((m.classCol(l) =!= label.cast("string")).cast("double"))
        case ("multinomial", ms @ ("mse" | "mae")) =>
          // one-hot row sums across classes (reference rowSums)
          val y = label.cast("string")
          val terms = (0 until m.nResponses).map { t =>
            val d = m.responseCol(l, t) -
              when(y === lit(m.classLabels(t)), 1.0).otherwise(0.0)
            if (ms == "mae") abs(d) else pow(d, 2)
          }
          avg(terms.reduce(_ + _))
        case ("multinomial", "deviance") =>
          val y = label.cast("string")
          val terms = (0 until m.nResponses).map { t =>
            val pt = least(greatest(m.responseCol(l, t), lit(1e-5)), lit(1.0 - 1e-5))
            when(y === lit(m.classLabels(t)), lit(-2.0) * log(pt)).otherwise(lit(0.0))
          }
          avg(terms.reduce(_ + _))
        case ("poisson", "deviance") =>
          // 2[y ln(y/mu) - (y - mu)], with 0 ln 0 = 0 (graft extension
          // family; same unit deviance as SgdNet's poisson fit)
          val y = label.cast("double")
          val mu = m.responseCol(l)
          avg(lit(2.0) *
            (when(y > 0, y * log(y / mu)).otherwise(lit(0.0)) - (y - mu)))
        case ("poisson", "mse") =>
          avg(pow(label.cast("double") - m.responseCol(l), 2))
        case ("poisson", "mae") =>
          avg(abs(label.cast("double") - m.responseCol(l)))
        case (fam, ms) =>
          throw new IllegalArgumentException(s"unsupported cv measure $ms for $fam")
      }
    }
    val row = test.agg(cols.head.as("c0"),
      cols.tail.zipWithIndex.map { case (c, i) => c.as(s"c${i + 1}") }: _*).head()
    Array.tabulate(L)(row.getDouble)
  }

  // ------------------------------------------- relaxed CV (gamma × lambda)

  /** cv.glmnet `relax = TRUE` result: one [[CvPath]] per gamma over a
    * SHARED lambda grid, the overall (gamma, lambda) winner, and the
    * full-data relaxed path for coefficient extraction. The winner
    * (bestGamma, lambda.min, lambda.1se) minimizes cvm for every
    * measure EXCEPT auc, which is maximized (cv.glmnet's sign flip);
    * cvm itself always holds the raw measure. */
  final case class RelaxedCvResult(
      gammas: Array[Double],
      paths: Seq[CvPath],
      bestGamma: Double,
      best: CvPath,
      relaxed: SgdNet.RelaxedPath,
      offsetFit: Boolean = false) {
    /** CV surface long-frame: (gamma, lambda_idx, lambda, cvm, cvsd). */
    def curveDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      gammas.toSeq.zip(paths).flatMap { case (g, p) =>
        p.lambda.indices.map(l => (g, l, p.lambda(l), p.cvm(l), p.cvsd(l)))
      }.toDF("gamma", "lambda_idx", "lambda", "cvm", "cvsd")
    }
    /** Persist the whole relaxed-CV result: the (gamma × lambda)
      * curves + selections in `<path>/curves`, each gamma's blended
      * full model under `<path>/model_<i>`, the penalized full path
      * under `<path>/penalized`, and the active-set refit path in
      * `<path>/refit` — restored by [[CvSgdNet.loadRelaxed]]. Same
      * overwrite contract as [[CvResult.save]]. */
    def save(spark: SparkSession, path: String,
             overwrite: Boolean = true): Unit = {
      import spark.implicits._
      SgdNetModel.checkOverwrite(spark, path, overwrite)
      val bestIdx = math.max(paths.indexWhere(_ eq best), 0)
      val rows = gammas.toSeq.zip(paths).zipWithIndex.flatMap {
        case ((g, p), i) =>
          p.lambda.indices.map { l =>
            (i, i == bestIdx, g, p.alpha, l, p.lambda(l), p.cvm(l),
              p.cvsd(l), p.lambdaMin, p.lambda1se)
          }
      }
      rows.toDF("path_idx", "is_best", "gamma", "alpha", "lambda_idx",
          "lambda", "cvm", "cvsd", "lambda_min", "lambda_1se")
        .repartition(1).write.mode("overwrite").parquet(s"$path/curves")
      paths.zipWithIndex.foreach { case (p, i) =>
        p.fit.save(spark, s"$path/model_$i")
      }
      relaxed.model.save(spark, s"$path/penalized")
      relaxed.olsA0.indices.map(l =>
          (l, relaxed.olsA0(l), relaxed.olsBeta(l).toSeq))
        .toDF("lambda_idx", "ols_a0", "ols_beta")
        .repartition(1).write.mode("overwrite").parquet(s"$path/refit")
    }

    /** predict.cv.glmnet with relax = TRUE (round 17): predictions
      * from the best-gamma BLENDED full-data model at
      * lambda.min | lambda.1se | a numeric string — each [[CvPath]]'s
      * `fit` carries the γ-blend, so this is the [[CvResult.predictAt]]
      * delegation on the winning gamma's path. Round 18: `offsetCols`
      * (glmnet newoffset — required when the fit used offset) and
      * `idxCol`/`valCol` (sparse newx) compose exactly like
      * [[CvResult.predictAt]], through [[SgdNetModel.predColFor]]. */
    def predictAt(df: DataFrame, which: String = "lambda.min",
                  tpe: String = "link",
                  offsetCols: Seq[String] = Nil,
                  idxCol: String = null, valCol: String = null): DataFrame = {
      val s = which match {
        case "lambda.min" => best.lambdaMin
        case "lambda.1se" => best.lambda1se
        case other        => other.toDouble
      }
      require((idxCol == null) == (valCol == null),
        "sparse predictAt needs BOTH idxCol and valCol")
      require(!offsetFit || offsetCols.nonEmpty,
        "this CV was fit WITH an offset: predictAt requires offsetCols " +
          "(the glmnet predict.cv.glmnet newoffset contract) — " +
          "offset-less predictions would be silently wrong by each " +
          "row's offset")
      val (a0, beta) = best.fit.atLambda(s)
      val sparse = if (idxCol == null) None else Some((idxCol, valCol))
      df.withColumn("pred", best.fit.predColFor(df.sparkSession, tpe,
        a0, beta, offsetCols, sparse))
    }

    /** Blended full-data coefficients at (bestGamma, lambda.min|.1se):
      * the selected lambda is a grid point, so no interpolation. */
    def coefAt(which: String = "lambda.min"): (Double, Array[Double]) = {
      val s = which match {
        case "lambda.min" => best.lambdaMin
        case "lambda.1se" => best.lambda1se
        case other        => other.toDouble
      }
      val l = {
        val exact = best.lambda.indexWhere(_ == s)
        if (exact >= 0) exact
        else best.lambda.zipWithIndex.minBy { case (v, _) => math.abs(v - s) }._2
      }
      val g = bestGamma
      val a0 = g * relaxed.model.a0(l)(0) + (1 - g) * relaxed.olsA0(l)
      val b = Array.tabulate(relaxed.olsBeta(l).length)(j =>
        g * relaxed.model.beta(l)(0)(j) + (1 - g) * relaxed.olsBeta(l)(j))
      (a0, b)
    }
  }

  /** Relaxed cross-validation (round 16 — cv.glmnet `relax = TRUE`
    * with its `gamma` grid; default c(0, .25, .5, .75, 1) like
    * glmnet): CV over the (gamma × lambda) surface of the γ-blend
    * γ·penalized + (1−γ)·active-set-OLS-refit. Gaussian family, and
    * the whole CV is ONE data pass (+1 only for mae):
    *
    *  - per-fold moments from one treeAggregate; each fold's penalized
    *    path AND its per-lambda active-set OLS refits solve
    *    driver-side from those same moments (the relaxedFit
    *    zero-extra-passes shape, fold-tiled);
    *  - held-out (weighted) MSE for every (gamma, fold, lambda) cell
    *    is the moment closed form — no scoring pass;
    *  - the full-data blended model per gamma gets its dev.ratio from
    *    the same moments.
    *
    * Frequency weights via `weightCol` follow the fitWeighted
    * convention (per-fold sum-to-n_train renormalization, w = 0 drops
    * the row); held-out scores are Σv·err/Σv with raw v. glmnet
    * semantics; the reference has no relax (graft extension, like
    * relaxedFit).
    *
    * Selection: measure = "auc" (binomial) is MAXIMIZED — bestGamma,
    * lambda.min and lambda.1se come from the sign-flipped curve, the
    * cv.glmnet relax convention — while every other measure minimizes.
    * (Plain [[fit]] keeps the reference's unconditional which.min for
    * auc too; the relax grid is a glmnet-parity surface, so it follows
    * glmnet here.) `cvm` itself always holds the RAW measure. */
  def fitRelaxed(df: DataFrame, featureCols: Seq[String], labelCol: String,
                 params: SgdNetParams = SgdNetParams(),
                 nfolds: Int = 10,
                 gammas: Seq[Double] = Seq(0.0, 0.25, 0.5, 0.75, 1.0),
                 measure: String = "deviance",
                 foldCol: Column = null,
                 weightCol: String = null,
                 offsetCol: String = null): RelaxedCvResult = {
    SgdNet.requireGramP(featureCols.size)
    require(nfolds >= 2, "nfolds must be at least 2")
    require(gammas.nonEmpty && gammas.forall(g => g >= 0 && g <= 1),
      "gamma grid must lie in [0, 1]")
    if (params.family == "binomial" || params.family == "poisson") {
      val okMeasures = if (params.family == "binomial")
        Set("deviance", "mse", "mae", "class", "auc")
      else Set("deviance", "mse", "mae")
      require(okMeasures.contains(measure),
        s"relaxed ${params.family} CV supports " +
          s"${okMeasures.toSeq.sorted.mkString("|")}, not '$measure'")
      return cvRelaxedIrls(df, labelCol, params, nfolds, gammas, measure,
        weighted = weightCol != null, hasOffset = offsetCol != null,
        featureCols.toArray, denseIrlsRows(df, featureCols, labelCol, nfolds,
          foldCol, weightCol, offsetCol))
        .copy(offsetFit = offsetCol != null)
    }
    require(params.family == "gaussian",
      s"relaxed CV supports gaussian, binomial, poisson, not ${params.family}")
    if (offsetCol != null) {
      // identity link: relax CV with an offset IS the plain relax CV on
      // y − offset (the fitWithOffset gaussian reduction); replace the
      // label IN PLACE so a caller-supplied foldCol keeps its columns
      val adj = df.withColumn(labelCol,
        col(labelCol).cast("double") - col(offsetCol).cast("double"))
      return fitRelaxed(adj, featureCols, labelCol, params, nfolds, gammas,
        measure, foldCol, weightCol)
        .copy(offsetFit = true) // predictAt must get newoffset (glmnet)
    }
    require(Set("deviance", "mse", "mae").contains(measure),
      s"relaxed gaussian CV supports deviance|mse|mae, not '$measure'")
    val p = featureCols.size
    val weighted = weightCol != null
    val hashCols = (featureCols :+ labelCol).map(col)
    val wc = if (weighted) col(weightCol).cast("double") else lit(1.0)
    val withFold = df
      .withColumn("__fold", foldExpr(foldCol, hashCols, nfolds).cast("int"))
      .withColumn("__v", wc)
    val rows0 = withFold
      .select((featureCols.map(c => col(c).cast("double")) :+
        col(labelCol).cast("double") :+ col("__fold") :+ col("__v")): _*)
      .rdd.map { r =>
        val x = new Array[Double](p)
        var j = 0
        while (j < p) { x(j) = r.getDouble(j); j += 1 }
        (r.getInt(p + 1), x, r.getDouble(p), r.getDouble(p + 2))
      }
    val rows = if (weighted)
        rows0.map { t => require(t._4 >= 0, "weights must be non-negative"); t }
          .filter(_._4 > 0)
      else rows0
    // ONE pass: per-fold RAW-v moments + Σv
    val zero = (Array.fill(nfolds)(new GramStats(p, 1)),
      new Array[Double](nfolds))
    val (perFold, wFold) = rows.treeAggregate(zero)(
      (acc, t) => {
        acc._1(t._1).addWeighted(t._2, Array(t._3), t._4)
        acc._2(t._1) += t._4
        acc
      },
      (a, b) => {
        var i = 0
        while (i < nfolds) { a._1(i).merge(b._1(i)); a._2(i) += b._2(i); i += 1 }
        a
      }, depth = 2)
    requireNonEmptyFolds(perFold.map(_.n), nfolds)
    val total = new GramStats(p, 1)
    perFold.foreach(total.merge)
    val wTotal = wFold.sum

    // full-data relaxed path (defines the shared lambda grid) from the
    // sum-to-n normalized total moments
    val totScaled =
      if (weighted)
        new GramStats(p, 1).merge(total).scaleWeights(total.n.toDouble / wTotal)
      else total
    val relaxedFull = SgdNet.relaxedFromStats(totScaled, featureCols,
      labelCol, params, 1.0)
    val lambdas = relaxedFull.model.lambda
    val L = lambdas.length
    val G = gammas.length

    // per-fold penalized path + active-set OLS refits, all driver-side
    // from subtracted moments
    val a0Pen = Array.ofDim[Double](nfolds, L)
    val bPen = Array.ofDim[Double](nfolds, L, p)
    val a0Ols = Array.ofDim[Double](nfolds, L)
    val bOls = Array.ofDim[Double](nfolds, L, p)
    for (f <- 0 until nfolds) {
      val fg = perFold(f)
      val train0 = new GramStats(p, 1).merge(total).subtract(fg)
      val train =
        if (weighted)
          train0.scaleWeights(train0.n.toDouble / (wTotal - wFold(f)))
        else train0
      val st = SufficientStats.standardize(train, params.standardize,
        params.intercept)
      val scale = if (params.standardize) st.xSd else Array.fill(p)(1.0)
      val l2Scale = SgdNet.compatL2Scale(params, 1, st.yVar)
      val (loStd, upStd) = SgdNet.boundsStd(params, scale, 1.0)
      var warm = new Array[Double](p)
      for (l <- 0 until L) {
        val r = CoordinateDescent.solve(st.gram, st.b(0), new Array[Double](p),
          0.0, 1.0, lambdas(l), params.alpha, intercept = false, warm,
          thresh = params.thresh * 1e-4, maxIter = params.maxit,
          l2Scale = l2Scale, penaltyFactor = params.penaltyFactor,
          lower = loStd, upper = upStd)
        warm = r.beta
        for (j <- 0 until p) bPen(f)(l)(j) = r.beta(j) / scale(j)
        a0Pen(f)(l) = if (params.intercept)
          st.yMean(0) - (0 until p).map(j => bPen(f)(l)(j) * st.xMean(j)).sum
        else 0.0
        val active = (0 until p).filter(j => r.beta(j) != 0.0)
        if (active.nonEmpty) {
          val aM = Array.tabulate(active.size, active.size)((i2, j2) =>
            st.gram(active(i2))(active(j2)))
          val bv = active.map(j => st.b(0)(j)).toArray
          // glmnet relax + limits (round 17): the per-fold refit honors
          // the box — CD at lambda = 0 when bounded, exact solve otherwise
          val sol =
            if (loStd == null && upStd == null) LinAlg.solve(aM, bv)
            else CoordinateDescent.solve(aM, bv,
              new Array[Double](active.size), 0.0, 1.0, 0.0, 1.0,
              intercept = false, active.map(r.beta(_)).toArray,
              thresh = 1e-12, maxIter = params.maxit,
              lower = if (loStd == null) null else active.map(loStd(_)).toArray,
              upper = if (upStd == null) null else active.map(upStd(_)).toArray
            ).beta
          active.zipWithIndex.foreach { case (j, i2) =>
            bOls(f)(l)(j) = sol(i2) / scale(j)
          }
        }
        a0Ols(f)(l) = if (params.intercept)
          st.yMean(0) - (0 until p).map(j => bOls(f)(l)(j) * st.xMean(j)).sum
        else 0.0
      }
    }

    // held-out scores for every (gamma, fold, lambda)
    val foldScores = Array.ofDim[Double](G, nfolds, L)
    if (measure == "mae") {
      // one scoring aggregation: every (gamma, fold, lambda) predictor
      // folds into the plan as literals
      val label = col(labelCol).cast("double")
      val cells = for (g <- 0 until G; f <- 0 until nfolds; l <- 0 until L)
        yield {
          val gm = gammas(g)
          val a0 = gm * a0Pen(f)(l) + (1 - gm) * a0Ols(f)(l)
          val eta = featureCols.zipWithIndex.foldLeft(lit(a0)) {
            case (acc, (c, j)) =>
              val w = gm * bPen(f)(l)(j) + (1 - gm) * bOls(f)(l)(j)
              if (w == 0.0) acc else acc + col(c) * lit(w)
          }
          (sum(when(col("__fold") === f, col("__v") * abs(label - eta))) /
            sum(when(col("__fold") === f, col("__v")))).as(s"m_${g}_${f}_$l")
        }
      val row = withFold.agg(cells.head, cells.tail: _*).head()
      var i = 0
      for (g <- 0 until G; f <- 0 until nfolds; l <- 0 until L) {
        foldScores(g)(f)(l) =
          if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
        i += 1
      }
    } else {
      // held-out weighted MSE from fold moments (the
      // cvGaussianFromStats closed form with Σv in place of n)
      for (g <- 0 until G; f <- 0 until nfolds; l <- 0 until L) {
        val gm = gammas(g)
        val fg = perFold(f)
        val wf = wFold(f)
        val a0 = gm * a0Pen(f)(l) + (1 - gm) * a0Ols(f)(l)
        val bO = Array.tabulate(p)(j =>
          gm * bPen(f)(l)(j) + (1 - gm) * bOls(f)(l)(j))
        var quad = 0.0; var bx = 0.0; var bxy = 0.0
        for (j <- 0 until p) {
          bx += bO(j) * fg.sumX(j) / wf
          bxy += bO(j) * fg.xty(j) / wf
          var s2 = 0.0
          for (m <- 0 until p) s2 += fg.xtx(LinAlg.triIdx(j, m)) / wf * bO(m)
          quad += bO(j) * s2
        }
        foldScores(g)(f)(l) = fg.sumYY(0) / wf - 2 * a0 * fg.sumY(0) / wf +
          a0 * a0 + quad + 2 * a0 * bx - 2 * bxy
      }
    }

    // one CvPath per gamma: the full-data blended model with its
    // dev.ratio from the same total moments
    val stTot = SufficientStats.standardize(totScaled, params.standardize,
      params.intercept)
    val scaleTot = if (params.standardize) stTot.xSd else Array.fill(p)(1.0)
    val ySecond = if (params.intercept) stTot.yVar(0)
      else stTot.yVar(0) + stTot.yMean(0) * stTot.yMean(0)
    val nulldev = totScaled.n * ySecond
    val paths = (0 until G).map { g =>
      val gm = gammas(g)
      val a0B = Array.tabulate(L)(l => Array(
        gm * relaxedFull.model.a0(l)(0) + (1 - gm) * relaxedFull.olsA0(l)))
      val bB = Array.tabulate(L)(l => Array(Array.tabulate(p)(j =>
        gm * relaxedFull.model.beta(l)(0)(j) +
          (1 - gm) * relaxedFull.olsBeta(l)(j))))
      val devRatio = Array.tabulate(L) { l =>
        // RSS/n on the standardized working scale (yScale = 1: the
        // gaussian relax path rejects standardize.response)
        var bb = 0.0; var gq = 0.0
        for (j <- 0 until p) {
          val bstd = bB(l)(0)(j) * scaleTot(j)
          bb += stTot.b(0)(j) * bstd
          var s2 = 0.0
          for (m <- 0 until p) s2 += stTot.gram(j)(m) * bB(l)(0)(m) * scaleTot(m)
          gq += bstd * s2
        }
        val rss = ySecond - 2 * bb + gq
        SgdNetModel.devRatio(totScaled.n * rss, nulldev)
      }
      val model = new SgdNetModel("gaussian", featureCols.toArray,
        Array(labelCol), Array.empty, lambdas, a0B, bB, nulldev, devRatio,
        total.n, relaxedFull.model.npasses, params)
      summarize(params.alpha, lambdas, foldScores(g), model)
    }
    val bestIdx = (0 until G).minBy(g => paths(g).cvm.min)
    RelaxedCvResult(gammas.toArray, paths, gammas(bestIdx), paths(bestIdx),
      relaxedFull)
  }

  /** [[fitRelaxed]] over CSR feature rows (round 16 — cv.glmnet
    * relax = TRUE with a dgCMatrix x, gaussian family): identical
    * driver algebra to the dense route, with the ONE data pass
    * gathering per-fold moments through the O(nnz²) sparse
    * accumulation and the mae scoring cells (when requested) built on
    * the codegen `graft_sparse_dot` expression — the matrix is never
    * densified. Selection follows [[fitRelaxed]]: auc is MAXIMIZED
    * (the cv.glmnet relax convention), all other measures minimized;
    * `cvm` always holds the raw measure. */
  def fitRelaxedSparse(df: DataFrame, idxCol: String, valCol: String,
                       dim: Int, labelCol: String,
                       params: SgdNetParams = SgdNetParams(),
                       nfolds: Int = 10,
                       gammas: Seq[Double] = Seq(0.0, 0.25, 0.5, 0.75, 1.0),
                       measure: String = "deviance",
                       foldCol: Column = null,
                       weightCol: String = null,
                       offsetCol: String = null): RelaxedCvResult = {
    SgdNet.requireGramP(dim)
    require(nfolds >= 2, "nfolds must be at least 2")
    require(gammas.nonEmpty && gammas.forall(g => g >= 0 && g <= 1),
      "gamma grid must lie in [0, 1]")
    if (params.family == "binomial" || params.family == "poisson") {
      val okMeasures = if (params.family == "binomial")
        Set("deviance", "mse", "mae", "class", "auc")
      else Set("deviance", "mse", "mae")
      require(okMeasures.contains(measure),
        s"relaxed ${params.family} CV supports " +
          s"${okMeasures.toSeq.sorted.mkString("|")}, not '$measure'")
      return cvRelaxedIrls(df, labelCol, params, nfolds, gammas, measure,
        weighted = weightCol != null, hasOffset = offsetCol != null,
        Array.tabulate(dim)(j => s"V$j"), csrIrlsRows(df, idxCol, valCol,
          dim, labelCol, nfolds, foldCol, weightCol, offsetCol))
        .copy(offsetFit = offsetCol != null)
    }
    require(params.family == "gaussian",
      s"sparse relaxed CV supports gaussian, binomial, poisson, " +
        s"not ${params.family}")
    if (offsetCol != null) {
      // identity link: the offset shifts only the label (CSR x is
      // untouched) — delegate to the plain sparse relax CV on y − off
      val adj = df.withColumn(labelCol,
        col(labelCol).cast("double") - col(offsetCol).cast("double"))
      return fitRelaxedSparse(adj, idxCol, valCol, dim, labelCol, params,
        nfolds, gammas, measure, foldCol, weightCol)
        .copy(offsetFit = true) // predictAt must get newoffset (glmnet)
    }
    require(Set("deviance", "mse", "mae").contains(measure),
      s"sparse relaxed gaussian CV supports deviance|mse|mae, not '$measure'")
    val p = dim
    val weighted = weightCol != null
    val hashCols = Seq(col(idxCol), col(valCol), col(labelCol))
    val wc = if (weighted) col(weightCol).cast("double") else lit(1.0)
    val withFold = df
      .withColumn("__fold", foldExpr(foldCol, hashCols, nfolds).cast("int"))
      .withColumn("__v", wc)
    val rows0 = withFold
      .select(col(idxCol), col(valCol).cast("array<double>"),
        col(labelCol).cast("double"), col("__fold"), col("__v"))
      .rdd.map { r =>
        (r.getInt(3), r.getSeq[Int](0).toArray,
          r.getSeq[Double](1).toArray, r.getDouble(2), r.getDouble(4))
      }
    val rows = if (weighted)
        rows0.map { t => require(t._5 >= 0, "weights must be non-negative"); t }
          .filter(_._5 > 0)
      else rows0
    val zero = (Array.fill(nfolds)(new GramStats(p, 1)),
      new Array[Double](nfolds))
    val (perFold, wFold) = rows.treeAggregate(zero)(
      (acc, t) => {
        acc._1(t._1).addSparseWeighted(t._2, t._3, Array(t._4), t._5)
        acc._2(t._1) += t._5
        acc
      },
      (a, b) => {
        var i = 0
        while (i < nfolds) { a._1(i).merge(b._1(i)); a._2(i) += b._2(i); i += 1 }
        a
      }, depth = 2)
    requireNonEmptyFolds(perFold.map(_.n), nfolds)
    val total = new GramStats(p, 1)
    perFold.foreach(total.merge)
    val wTotal = wFold.sum
    val names = (0 until p).map(j => s"V$j")
    val totScaled =
      if (weighted)
        new GramStats(p, 1).merge(total).scaleWeights(total.n.toDouble / wTotal)
      else total
    val relaxedFull = SgdNet.relaxedFromStats(totScaled, names, labelCol,
      params, 1.0)
    val lambdas = relaxedFull.model.lambda
    val L = lambdas.length
    val G = gammas.length

    val a0Pen = Array.ofDim[Double](nfolds, L)
    val bPen = Array.ofDim[Double](nfolds, L, p)
    val a0Ols = Array.ofDim[Double](nfolds, L)
    val bOls = Array.ofDim[Double](nfolds, L, p)
    for (f <- 0 until nfolds) {
      val fg = perFold(f)
      val train0 = new GramStats(p, 1).merge(total).subtract(fg)
      val train =
        if (weighted)
          train0.scaleWeights(train0.n.toDouble / (wTotal - wFold(f)))
        else train0
      val st = SufficientStats.standardize(train, params.standardize,
        params.intercept)
      val scale = if (params.standardize) st.xSd else Array.fill(p)(1.0)
      val l2Scale = SgdNet.compatL2Scale(params, 1, st.yVar)
      val (loStd, upStd) = SgdNet.boundsStd(params, scale, 1.0)
      var warm = new Array[Double](p)
      for (l <- 0 until L) {
        val r = CoordinateDescent.solve(st.gram, st.b(0), new Array[Double](p),
          0.0, 1.0, lambdas(l), params.alpha, intercept = false, warm,
          thresh = params.thresh * 1e-4, maxIter = params.maxit,
          l2Scale = l2Scale, penaltyFactor = params.penaltyFactor,
          lower = loStd, upper = upStd)
        warm = r.beta
        for (j <- 0 until p) bPen(f)(l)(j) = r.beta(j) / scale(j)
        a0Pen(f)(l) = if (params.intercept)
          st.yMean(0) - (0 until p).map(j => bPen(f)(l)(j) * st.xMean(j)).sum
        else 0.0
        val active = (0 until p).filter(j => r.beta(j) != 0.0)
        if (active.nonEmpty) {
          val aM = Array.tabulate(active.size, active.size)((i2, j2) =>
            st.gram(active(i2))(active(j2)))
          val bv = active.map(j => st.b(0)(j)).toArray
          // glmnet relax + limits (round 17): the per-fold refit honors
          // the box — CD at lambda = 0 when bounded, exact solve otherwise
          val sol =
            if (loStd == null && upStd == null) LinAlg.solve(aM, bv)
            else CoordinateDescent.solve(aM, bv,
              new Array[Double](active.size), 0.0, 1.0, 0.0, 1.0,
              intercept = false, active.map(r.beta(_)).toArray,
              thresh = 1e-12, maxIter = params.maxit,
              lower = if (loStd == null) null else active.map(loStd(_)).toArray,
              upper = if (upStd == null) null else active.map(upStd(_)).toArray
            ).beta
          active.zipWithIndex.foreach { case (j, i2) =>
            bOls(f)(l)(j) = sol(i2) / scale(j)
          }
        }
        a0Ols(f)(l) = if (params.intercept)
          st.yMean(0) - (0 until p).map(j => bOls(f)(l)(j) * st.xMean(j)).sum
        else 0.0
      }
    }

    val foldScores = Array.ofDim[Double](G, nfolds, L)
    if (measure == "mae") {
      val spark = df.sparkSession
      val label = col(labelCol).cast("double")
      val cells = for (g <- 0 until G; f <- 0 until nfolds; l <- 0 until L)
        yield {
          val gm = gammas(g)
          val a0 = gm * a0Pen(f)(l) + (1 - gm) * a0Ols(f)(l)
          val bArr = Array.tabulate(p)(j =>
            gm * bPen(f)(l)(j) + (1 - gm) * bOls(f)(l)(j))
          val eta = lit(a0) + graft.functions.GraftFunctions.sparseDot(spark,
            col(idxCol).cast("array<int>"), col(valCol).cast("array<double>"),
            typedlit(bArr.toSeq))
          (sum(when(col("__fold") === f, col("__v") * abs(label - eta))) /
            sum(when(col("__fold") === f, col("__v")))).as(s"m_${g}_${f}_$l")
        }
      val row = withFold.agg(cells.head, cells.tail: _*).head()
      var i = 0
      for (g <- 0 until G; f <- 0 until nfolds; l <- 0 until L) {
        foldScores(g)(f)(l) =
          if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
        i += 1
      }
    } else {
      for (g <- 0 until G; f <- 0 until nfolds; l <- 0 until L) {
        val gm = gammas(g)
        val fg = perFold(f)
        val wf = wFold(f)
        val a0 = gm * a0Pen(f)(l) + (1 - gm) * a0Ols(f)(l)
        val bO = Array.tabulate(p)(j =>
          gm * bPen(f)(l)(j) + (1 - gm) * bOls(f)(l)(j))
        var quad = 0.0; var bx = 0.0; var bxy = 0.0
        for (j <- 0 until p) {
          bx += bO(j) * fg.sumX(j) / wf
          bxy += bO(j) * fg.xty(j) / wf
          var s2 = 0.0
          for (m <- 0 until p) s2 += fg.xtx(LinAlg.triIdx(j, m)) / wf * bO(m)
          quad += bO(j) * s2
        }
        foldScores(g)(f)(l) = fg.sumYY(0) / wf - 2 * a0 * fg.sumY(0) / wf +
          a0 * a0 + quad + 2 * a0 * bx - 2 * bxy
      }
    }

    val stTot = SufficientStats.standardize(totScaled, params.standardize,
      params.intercept)
    val scaleTot = if (params.standardize) stTot.xSd else Array.fill(p)(1.0)
    val ySecond = if (params.intercept) stTot.yVar(0)
      else stTot.yVar(0) + stTot.yMean(0) * stTot.yMean(0)
    val nulldev = totScaled.n * ySecond
    val paths = (0 until G).map { g =>
      val gm = gammas(g)
      val a0B = Array.tabulate(L)(l => Array(
        gm * relaxedFull.model.a0(l)(0) + (1 - gm) * relaxedFull.olsA0(l)))
      val bB = Array.tabulate(L)(l => Array(Array.tabulate(p)(j =>
        gm * relaxedFull.model.beta(l)(0)(j) +
          (1 - gm) * relaxedFull.olsBeta(l)(j))))
      val devRatio = Array.tabulate(L) { l =>
        var bb = 0.0; var gq = 0.0
        for (j <- 0 until p) {
          val bstd = bB(l)(0)(j) * scaleTot(j)
          bb += stTot.b(0)(j) * bstd
          var s2 = 0.0
          for (m <- 0 until p) s2 += stTot.gram(j)(m) * bB(l)(0)(m) * scaleTot(m)
          gq += bstd * s2
        }
        val rss = ySecond - 2 * bb + gq
        SgdNetModel.devRatio(totScaled.n * rss, nulldev)
      }
      val model = new SgdNetModel("gaussian", names.toArray,
        Array(labelCol), Array.empty, lambdas, a0B, bB, nulldev, devRatio,
        total.n, relaxedFull.model.npasses, params)
      summarize(params.alpha, lambdas, foldScores(g), model)
    }
    val bestIdx = (0 until G).minBy(g => paths(g).cvm.min)
    RelaxedCvResult(gammas.toArray, paths, gammas(bestIdx), paths(bestIdx),
      relaxedFull)
  }

  /** Relaxed CV for the IRLS families (cv.glmnet relax = TRUE with
    * binomial | poisson), dense or CSR rows, in three fold-tiled stages,
    * each ONE pass per round regardless of nfolds × nlambda:
    *
    *  1. per-fold PENALIZED paths — the [[cvIrls]] setup and stage 1
    *     ([[foldPaths]]), full-data model riding as virtual fold nfolds;
    *  2. per-(fold, lambda) UNPENALIZED active-set refits — the
    *     [[SgdNet.relaxedFitGlm]] restricted-moment algebra tiled over
    *     BOTH folds and lambdas ([[refitSums]]): each Newton round
    *     accumulates every unconverged cell's restricted WLS block from
    *     its train rows and solves driver-side (warm-started at the
    *     penalized coefficients; empty active sets take the fold's
    *     null, the offset null when an offset rides along);
    *  3. held-out scoring of every (gamma, fold, lambda) blend in one
    *     pass ([[heldOutScores]]), plus one deviance pass for the
    *     per-gamma blended full models. */
  private def cvRelaxedIrls(df: DataFrame, labelCol: String,
                            params: SgdNetParams, nfolds: Int,
                            gammas: Seq[Double], measure: String,
                            weighted: Boolean, hasOffset: Boolean,
                            names: Array[String],
                            rowsOf: Column => SgdNet.IrlsRows): RelaxedCvResult =
    SgdNet.withIrlsSetup(df, labelCol, params, nfolds, weighted, hasOffset, rowsOf) {
      (s, classes) =>
        val p = s.p
        val F = s.full + 1
        val fp = foldPaths(s, params)
        val lambdas = fp.lambdas
        val L = lambdas.length
        val penB = Array.tabulate(F, L)(fp.beta)
        val sc = df.sparkSession.sparkContext

        // --------- stage 2: per-(fold, lambda) unpenalized active-set
        // refits, tiled over both folds and lambdas (original scale)
        val activeSet = Array.tabulate(F, L)((f, l) =>
          fp.coefs(f)(l).idx)
        val a0R = Array.tabulate(F, L)((f, l) => fp.a0(f)(l))
        val bFull = Array.tabulate(F, L)((f, l) => penB(f)(l).clone())
        val doneR = Array.ofDim[Boolean](F, L)
        for (f <- 0 until F; l <- 0 until L if activeSet(f)(l).isEmpty) {
          a0R(f)(l) = s.a0Null(f)
          java.util.Arrays.fill(bFull(f)(l), 0.0)
          doneR(f)(l) = true
        }
        val tolR = math.max(params.thresh * 1e-2, 1e-8)
        var passes = fp.passes
        var iterR = 0
        while (iterR < 25 && !doneR.forall(_.forall(identity))) {
          val live = (for (f <- 0 until F; l <- 0 until L if !doneR(f)(l))
            yield (f, l)).toArray
          val offs = live.map { case (f, l) =>
            val m = activeSet(f)(l).length
            2 + 2 * m + LinAlg.triSize(m)
          }.scanLeft(0)(_ + _)
          val acc = refitSums(s, sc.broadcast(RefitCells(live.map(_._1),
            live.map { case (f, l) => activeSet(f)(l) },
            live.map { case (f, l) => a0R(f)(l) },
            live.map { case (f, l) => bFull(f)(l) }, offs)))
          passes += 1
          for (i <- live.indices) {
            val (f, l) = live(i)
            val a = activeSet(f)(l)
            val m = a.length
            val loA = if (params.lowerLimits == null) null
              else a.map(params.lowerLimits(_))
            val upA = if (params.upperLimits == null) null
              else a.map(params.upperLimits(_))
            val (na0, sol) = SgdNet.solveRestrictedWls(acc, offs(i), m,
              params.intercept, loA, upA, a.map(bFull(f)(l)(_)), params.maxit)
            var maxD = math.abs(na0 - a0R(f)(l))
            for (q <- 0 until m) {
              val d = math.abs(sol(q) - bFull(f)(l)(a(q)))
              if (d > maxD) maxD = d
            }
            a0R(f)(l) = na0
            for (q <- 0 until m) bFull(f)(l)(a(q)) = sol(q)
            if (maxD < tolR) doneR(f)(l) = true
          }
          iterR += 1
        }

        // the γ-blend γ·penalized + (1−γ)·refit of cell (f, l), column
        // g·L + l of the blended coefficient sets
        val gArr = gammas.toArray
        val G = gArr.length
        def blendA0(f: Int, c: Int): Double = {
          val gm = gArr(c / L); val l = c % L
          gm * fp.a0(f)(l) + (1 - gm) * a0R(f)(l)
        }
        def blendBeta(f: Int, c: Int): Array[Double] = {
          val gm = gArr(c / L); val l = c % L
          Array.tabulate(p)(j => gm * penB(f)(l)(j) + (1 - gm) * bFull(f)(l)(j))
        }
        val full = nfolds
        // one pass: deviances of every (gamma, lambda) blend + the null
        val devs = s.rows.deviance(s.fam,
          Array.tabulate(G * L)(blendA0(full, _)) :+ s.a0Null(full),
          Array.tabulate(G * L)(c => SgdNet.Coefs.of(blendBeta(full, c))) :+
            SgdNet.Coefs(Array.emptyIntArray, Array.emptyDoubleArray), s.norm(full))
        val nulldev = devs(G * L)

        // ------ stage 3: held-out scores for every (gamma, fold, lambda)
        val scores = heldOutScores(df.sparkSession, s, measure,
          Array.tabulate(nfolds, G * L)(blendA0),
          Array.tabulate(nfolds, G * L)((f, c) => SgdNet.Coefs.of(blendBeta(f, c))))
        passes += 2
        val paths = (0 until G).map { g =>
          val model = new SgdNetModel(params.family, names, Array(labelCol),
            classes, lambdas,
            Array.tabulate(L)(l => Array(blendA0(full, g * L + l))),
            Array.tabulate(L)(l => Array(blendBeta(full, g * L + l))), nulldev,
            Array.tabulate(L)(l => SgdNetModel.devRatio(devs(g * L + l), nulldev)),
            s.nObs, passes, params)
          summarize(params.alpha, lambdas,
            Array.tabulate(nfolds, L)((f, l) => scores(f)(g * L + l)), model,
            maximize = measure == "auc")
        }
        // cv.glmnet relax maximizes auc (sign-flipped internally); every
        // other measure minimizes — unlike plain fit's documented
        // reference which.min parity (R/cv_sgdnet.R:265-282), the relax
        // grid is a glmnet-parity surface.
        val bestIdx =
          if (measure == "auc") (0 until G).maxBy(g => paths(g).cvm.max)
          else (0 until G).minBy(g => paths(g).cvm.min)
        // the gamma = 1 slice IS the penalized model's deviance when 1.0
        // is in the grid; otherwise its dev.ratio (informational here) is NaN
        val g1 = gArr.indexWhere(_ == 1.0)
        val fullPenalized = new SgdNetModel(params.family, names,
          Array(labelCol), classes, lambdas,
          Array.tabulate(L)(l => Array(fp.a0(full)(l))),
          Array.tabulate(L)(l => Array(penB(full)(l))), nulldev,
          Array.tabulate(L)(l =>
            if (nulldev <= 0) 0.0
            else if (g1 >= 0) SgdNetModel.devRatio(devs(g1 * L + l), nulldev)
            else Double.NaN),
          s.nObs, passes, params)
        val relaxedFull = SgdNet.RelaxedPath(fullPenalized, a0R(full),
          bFull(full), 1.0)
        RelaxedCvResult(gArr, paths, gArr(bestIdx), paths(bestIdx), relaxedFull)
    }

  /** The live cells of one relaxed-refit round: each cell's model
    * (fold), sorted active set, current (a0, β) on the original scale
    * and the offset of its restricted WLS block
    * [Σw, Σwz, Σw·x_A, Σw·x_A·z, packed Σw·x_A·x_A'] in the round's
    * accumulator. */
  private final case class RefitCells(model: Array[Int], active: Array[Array[Int]],
                                      a0: Array[Double], beta: Array[Array[Double]],
                                      offs: Array[Int])

  /** One refit pass: every live cell's restricted IRLS moments from its
    * train rows (a row feeds every cell but its own fold's), η = off +
    * a0 + x·β and target z − off, the raw weight folded into the IRLS
    * weight (the unpenalized solve is scale-free). CSR rows walk their
    * nonzeros and find their active-set slots by binary search in the
    * cell's sorted active array, so the broadcast stays O(Σ active). */
  private def refitSums(s: SgdNet.IrlsSetup,
                        bc: org.apache.spark.broadcast.Broadcast[RefitCells]): Array[Double] = {
    val fam = s.fam
    val size = bc.value.offs.last
    def link(eta: Double, y: Double, off: Double): (Double, Double) = {
      val e = fam.clampEta(eta)
      val mu = fam.mean(e)
      val w = fam.weight(mu)
      (w, e + (y - mu) / w - off)
    }
    val merge = (a: Array[Double], b: Array[Double]) => {
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }
    s.rows match {
      case d: SgdNet.DenseRows =>
        d.rdd.treeAggregate(new Array[Double](size))((acc, r) => {
          val cells = bc.value
          val x = r.x
          var i = 0
          while (i < cells.model.length) {
            if (cells.model(i) != r.fold) {
              val a = cells.active(i)
              val m = a.length
              val b = cells.beta(i)
              var eta = cells.a0(i) + r.off
              var q = 0
              while (q < m) { eta += b(a(q)) * x(a(q)); q += 1 }
              val (w0, z) = link(eta, r.y, r.off)
              val w = w0 * r.w
              val base = cells.offs(i)
              acc(base) += w
              acc(base + 1) += w * z
              q = 0
              while (q < m) {
                val wx = w * x(a(q))
                acc(base + 2 + q) += wx
                acc(base + 2 + m + q) += wx * z
                var r2 = 0
                while (r2 <= q) {
                  acc(base + 2 + 2 * m + LinAlg.triIdx(r2, q)) += wx * x(a(r2))
                  r2 += 1
                }
                q += 1
              }
            }
            i += 1
          }
          acc
        }, merge, depth = 2)
      case c: SgdNet.CsrRows =>
        c.rdd.treeAggregate(new Array[Double](size))((acc, r) => {
          val cells = bc.value
          val idx = r.idx; val vals = r.vals
          var i = 0
          while (i < cells.model.length) {
            if (cells.model(i) != r.fold) {
              val a = cells.active(i)
              val m = a.length
              // slots of this row's nonzeros in the cell's active set
              // (β is zero off the active set, so η walks all nonzeros)
              var eta = cells.a0(i) + r.off
              val qs = new Array[Int](idx.length)
              var t = 0
              while (t < idx.length) {
                eta += cells.beta(i)(idx(t)) * vals(t)
                qs(t) = java.util.Arrays.binarySearch(a, idx(t))
                t += 1
              }
              val (w0, z) = link(eta, r.y, r.off)
              val w = w0 * r.w
              val base = cells.offs(i)
              acc(base) += w
              acc(base + 1) += w * z
              t = 0
              while (t < idx.length) {
                val q = qs(t)
                if (q >= 0) {
                  val wx = w * vals(t)
                  acc(base + 2 + q) += wx
                  acc(base + 2 + m + q) += wx * z
                  var u = 0
                  while (u <= t) {
                    val r2 = qs(u)
                    if (r2 >= 0) {
                      acc(base + 2 + 2 * m +
                        LinAlg.triIdx(math.min(q, r2), math.max(q, r2))) += wx * vals(u)
                    }
                    u += 1
                  }
                }
                t += 1
              }
            }
            i += 1
          }
          acc
        }, merge, depth = 2)
    }
  }

  private[ml] def summarize(alpha: Double, lambdas: Array[Double],
                        foldScores: Array[Array[Double]],
                        full: SgdNetModel,
                        maximize: Boolean = false): CvPath = {
    val nfolds = foldScores.length
    val L = lambdas.length
    val cvm = Array.tabulate(L)(l => foldScores.map(_(l)).sum / nfolds)
    val cvsd = Array.tabulate(L) { l =>
      val xs = foldScores.map(_(l))
      val mu = cvm(l)
      math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (nfolds - 1.0) / nfolds)
    }
    val (lmin, l1se) = select(lambdas, cvm, cvsd, maximize)
    CvPath(alpha, lambdas, cvm, cvsd, lmin, l1se, full)
  }
}
