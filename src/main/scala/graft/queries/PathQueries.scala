package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ml._
import MlQueries.tbl

/** Queries covering the post-fit surface: multi-family fits, predict
  * types, nonzero/df paths, summaries, plot data and cross-validation
  * (SURVEY.md §2 "Post-fit methods" / "Cross-validation").
  */
object PathQueries {

  /** Fixed lambdas (not data-derived) keep set-membership conditions
    * (nonzero/df) exactly reproducible in the SQL oracles. */
  private val FixedPath = Array(256.0, 128.0, 64.0, 32.0, 16.0, 8.0, 4.0, 2.0, 1.0, 0.5)

  private def singleFeaturePath(spark: SparkSession, dir: String): SgdNetModel =
    SgdNet.fit(tbl(spark, dir, "lineitem"), Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = FixedPath, thresh = 1e-10))

  /** Hand-built binomial model with FIXED coefficients: exercises the
    * sigmoid response / class machinery against an exact SQL oracle. */
  private def fixedBinomial(): SgdNetModel =
    new SgdNetModel("binomial", Array("l_quantity"), Array("is_r"),
      Array("0", "1"), Array(1.0), Array(Array(-1.2)), Array(Array(Array(0.045))),
      0.0, Array(0.0), 0L, 0, SgdNetParams(family = "binomial"))

  /** Hand-built 3-class multinomial model (fixed coefficients). */
  private def fixedMultinomial(): SgdNetModel =
    new SgdNetModel("multinomial", Array("l_quantity", "l_discount"),
      Array("cls"), Array("A", "N", "R"), Array(1.0),
      Array(Array(0.1, -0.05, 0.0)),
      Array(Array(Array(0.02, 1.5), Array(-0.01, 2.0), Array(0.005, -3.0))),
      0.0, Array(0.0), 0L, 0, SgdNetParams(family = "multinomial"))

  // ------------------------------------------------------------ fit queries

  /** Binomial fit verified BIT-EXACTLY end-to-end: one IRLS (Newton)
    * step from the closed-form null point (the q_binom_null_fit
    * technique, one step further). With `thresh` large the outer Newton
    * loop stops after its first step, whose penalized WLS solution is
    * closed-form — at the null the weights are CONSTANT w = p(1-p), so
    * b_std = S(cov(x_std, y), lambda)/w and a0 = logit(p). This drives
    * the REAL distributed chain (treeAggregate weighted gram -> CD ->
    * back-transform), not a hand-built model, and DuckDB reproduces it.
    * The converged multi-feature path stays covered by
    * SgdNetBinomialSpec against spark.ml LogisticRegression. */
  /** Inverse-propensity-weighted outcome means and ATE: the
    * [[binomFit]] one-step propensity model (P[returnflag = R |
    * quantity]) scores every row IN the aggregation pipeline (the
    * prediction is a codegen column expression, not a materialized
    * table), then Hájek-normalized weighted means estimate the
    * "effect" of the R flag on extendedprice. End-to-end: model fit →
    * per-row sigmoid → weighted rollup, one distributed pass after
    * the fit's treeAggregate — and every step has a closed-form
    * oracle because the fit configuration is the oracle-exact
    * one-step solve. */
  def ipwAte(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val m = SgdNet.fit(li, Seq("l_quantity"), "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = Array(0.0002),
        thresh = 1e6))
    val t = col("is_r").cast("double")
    val rows = li.select(t.as("t"), col("l_extendedprice").as("y"),
      m.responseCol(0).as("p"))
    val mt = sum(col("t") * col("y") / col("p")) / sum(col("t") / col("p"))
    val mc = sum((lit(1.0) - col("t")) * col("y") / (lit(1.0) - col("p"))) /
      sum((lit(1.0) - col("t")) / (lit(1.0) - col("p")))
    rows.agg(
      sum(col("t")).cast("long").as("n_treated"),
      sum(lit(1.0) - col("t")).cast("long").as("n_control"),
      round(mt, 6).as("mean_treated"),
      round(mc, 6).as("mean_control"),
      round(mt - mc, 6).as("ate"))
  }

  def binomFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val m = SgdNet.fit(li, Seq("l_quantity"), "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = Array(0.0002),
        thresh = 1e6))
    Seq(("a0", m.a0(0)(0)), ("l_quantity", m.beta(0)(0)(0)))
      .toDF("term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("term")
  }

  /** IRLS strong-rule screen on the correctness board (round 18 —
    * `CoordinateDescent.solveScreened` via the dense binomial path
    * core; the round-17 screen was spec-only): the [[binomFit]]
    * one-IRLS-step discipline at p = 36 ≥ ScreenMinP, so path point 2
    * REALLY runs the per-Newton screen (p ≥ 32, l > 0, alpha = 1).
    * Feature 0 carries manufactured dominant signal (4·y + a small
    * integer hash); 35 pseudo-noise integer-hash features have
    * working gradients near 0, so at λ₁ = 0.75·λmax the strong-rule
    * bound α(2λ₁ − λ₀) ≈ 0.5·λmax discards ALL of them, the KKT
    * backcheck confirms, and the returned surface is the
    * single-coordinate soft-threshold closed form the oracle
    * recomputes — a screened-route output the hash compare pins
    * feature-by-feature at both path points. */
  def screenIrls(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    // ONE select for all 36 features: a 35-deep withColumn chain costs
    // quadratic analyzer work per downstream use (bench-measured 16.5 s
    // for this query before the flatten; 0.4 s after)
    val isR = (col("l_returnflag") === "R").cast("int")
    val featCols = (isR * 4 + pmod(col("l_orderkey"), lit(3)))
      .cast("double").as("f0") +: (1 until 36).map(j =>
      pmod(col("l_orderkey") * (2 * j + 3) + col("l_linenumber") * (j + 1),
        lit(23)).cast("double").as(f"f$j%02d"))
    // bounded fixture: every solver pass pays a p+3-column row
    // conversion, so the query runs on the deterministic 1/4 subset
    // (the oracle filters identically; the closed-form margin is
    // scale-free)
    val li = tbl(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .select(col("l_orderkey") +: col("l_linenumber") +:
        isR.as("is_r") +: featCols: _*)
    // lambda_max = max_j |cov(f_j, y)|/sd_j from ONE typed moment pass
    // (a 72-aggregate DataFrame agg here measured 14 s at sf0.1 — the
    // buffer count kills whole-stage codegen; GramStats is 0.1 s)
    val g = graft.ml.SufficientStats.compute(
      graft.ml.SufficientStats.toRdd(li, feats, Seq("is_r")),
      feats.size, 1)
    val st = graft.ml.SufficientStats.standardize(g,
      standardizeX = true, intercept = true)
    val lmax = st.b(0).map(math.abs).max
    val m = SgdNet.fit(li, feats, "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(lmax * 1.0001, lmax * 0.75), thresh = 1e6))
    val rows = for {
      l <- 0 until 2
      (t, v) <- ("a0", m.a0(l)(0)) +:
        feats.zipWithIndex.map { case (f, j) => (f, m.beta(l)(0)(j)) }
    } yield (l, t, v)
    rows.toDF("lambda_idx", "term", "value")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("value"), 6) + lit(0.0)).as("value"))
      .orderBy("lambda_idx", "term")
  }

  /** Screened-Gram LARGE-DIM SPARSE route on the correctness board
    * (round 18 — `LargeP.fitSparseGaussian`, the hashed-feature/CSR
    * twin): the [[gaussLargeP]] fixture VERBATIM, encoded as
    * (indices, values) rows and driven through the sparse multi-pass
    * chassis (O(nnz) moment pass → slot-lookup slab passes →
    * centering-corrected sparse gradient passes), so the oracle is
    * byte-identical to q_gauss_largep and any divergence isolates the
    * sparse chassis. */
  def sparseLargeP(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val featCols = (col("l_extendedprice").cast("double") / 1000.0 +
      pmod(col("l_orderkey"), lit(3))).as("f0") +:
      (1 until 36).map(j =>
        pmod(col("l_orderkey") * (2 * j + 3) + col("l_linenumber") * (j + 1),
          lit(23)).cast("double").as(f"f$j%02d"))
    val li = tbl(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .select(col("l_extendedprice").cast("double").as("y") +: featCols: _*)
      .withColumn("sidx", array((0 until 36).map(lit): _*))
      .withColumn("svals", array(feats.map(col): _*))
    val g = graft.ml.SufficientStats.compute(
      graft.ml.SufficientStats.toRdd(li, feats, Seq("y")), feats.size, 1)
    val st = graft.ml.SufficientStats.standardize(g,
      standardizeX = true, intercept = true)
    val lmax = st.b(0).map(math.abs).max
    val m = graft.ml.LargeP.fitSparseGaussian(li, "sidx", "svals", 36, "y",
      SgdNetParams(alpha = 1.0, lambda = Array(lmax * 1.0001, lmax * 0.75),
        thresh = 1e-9, maxit = 100000))
    val rows = for {
      l <- 0 until 2
      (t, v) <- ("a0", m.a0(l)(0)) +:
        feats.zipWithIndex.map { case (f, j) => (f, m.beta(l)(0)(j)) }
    } yield (l, t, v)
    rows.toDF("lambda_idx", "term", "value")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("value"), 6) + lit(0.0)).as("value"))
      .orderBy("lambda_idx", "term")
  }

  /** WEIGHTED screened large-p route on the correctness board
    * (round 18 — `LargeP.fitGaussian(weightCol)`, glmnet `weights`
    * past the p² cliff): the [[gaussLargeP]] fixture with an integer
    * weight column w = 1 + l_orderkey % 3, same two-point grid on the
    * WEIGHTED λmax — every moment in the engine's ratio forms
    * (Σv·x/Σv) is recomputed by DuckDB as weighted sums, and the
    * single active coefficient is the weighted soft-threshold closed
    * form at both path points. */
  def weightedLargeP(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val featCols = (col("l_extendedprice").cast("double") / 1000.0 +
      pmod(col("l_orderkey"), lit(3))).as("f0") +:
      (1 until 36).map(j =>
        pmod(col("l_orderkey") * (2 * j + 3) + col("l_linenumber") * (j + 1),
          lit(23)).cast("double").as(f"f$j%02d"))
    val li = tbl(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .select(col("l_extendedprice").cast("double").as("y") +:
        (pmod(col("l_orderkey"), lit(3)) + lit(1)).cast("double").as("w") +:
        featCols: _*)
    // weighted lambda_max from ONE typed moment pass (ratio forms)
    val pN = feats.size
    val rdd = li.select((feats.map(c => col(c)) :+ col("y") :+ col("w")): _*)
      .rdd.map { r =>
        val x = Array.tabulate(pN)(j => r.getDouble(j))
        (x, r.getDouble(pN), r.getDouble(pN + 1))
      }
    val acc = rdd.treeAggregate(new Array[Double](3 * pN + 2))(
      (a, t) => {
        val (x, y, w) = t
        var j = 0
        while (j < pN) {
          val wx = w * x(j)
          a(j) += wx; a(pN + j) += wx * x(j); a(2 * pN + j) += wx * y
          j += 1
        }
        a(3 * pN) += w; a(3 * pN + 1) += w * y
        a
      },
      (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
      depth = 2)
    val sw = acc(3 * pN); val ym = acc(3 * pN + 1) / sw
    val lmax = (0 until pN).map { j =>
      val m = acc(j) / sw
      val sd = math.sqrt(math.max(acc(pN + j) / sw - m * m, 0.0))
      if (sd > 0) math.abs((acc(2 * pN + j) / sw - m * ym) / sd) else 0.0
    }.max
    val m = graft.ml.LargeP.fitGaussian(li, feats, "y",
      SgdNetParams(alpha = 1.0, lambda = Array(lmax * 1.0001, lmax * 0.75),
        thresh = 1e-9, maxit = 100000), weightCol = "w")
    val rows = for {
      l <- 0 until 2
      (t, v) <- ("a0", m.a0(l)(0)) +:
        feats.zipWithIndex.map { case (f, j) => (f, m.beta(l)(0)(j)) }
    } yield (l, t, v)
    rows.toDF("lambda_idx", "term", "value")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("value"), 6) + lit(0.0)).as("value"))
      .orderBy("lambda_idx", "term")
  }

  /** Screened LARGE-DIM SPARSE IRLS on the correctness board
    * (round 18 — `LargeP.fitSparseBinomial`, the hashed-feature
    * logistic path): the [[screenIrls]] fixture VERBATIM as CSR rows
    * through the sparse fused-pass chassis (O(nnz) moments,
    * driver-corrected weighted moment assembly, sparse KKT), so the
    * oracle is byte-identical to q_screen_irls and any divergence
    * isolates the sparse IRLS chassis. */
  def sparseIrls(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val isR = (col("l_returnflag") === "R").cast("int")
    val featCols = (isR * 4 + pmod(col("l_orderkey"), lit(3)))
      .cast("double").as("f0") +: (1 until 36).map(j =>
      pmod(col("l_orderkey") * (2 * j + 3) + col("l_linenumber") * (j + 1),
        lit(23)).cast("double").as(f"f$j%02d"))
    val li = tbl(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .select(isR.as("is_r") +: featCols: _*)
      .withColumn("sidx", array((0 until 36).map(lit): _*))
      .withColumn("svals", array(feats.map(col): _*))
    val g = graft.ml.SufficientStats.compute(
      graft.ml.SufficientStats.toRdd(li, feats, Seq("is_r")),
      feats.size, 1)
    val st = graft.ml.SufficientStats.standardize(g,
      standardizeX = true, intercept = true)
    val lmax = st.b(0).map(math.abs).max
    val m = graft.ml.LargeP.fitSparseBinomial(li, "sidx", "svals", 36,
      "is_r", SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(lmax * 1.0001, lmax * 0.75), thresh = 1e6))
    val rows = for {
      l <- 0 until 2
      (t, v) <- ("a0", m.a0(l)(0)) +:
        feats.zipWithIndex.map { case (f, j) => (f, m.beta(l)(0)(j)) }
    } yield (l, t, v)
    rows.toDF("lambda_idx", "term", "value")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("value"), 6) + lit(0.0)).as("value"))
      .orderBy("lambda_idx", "term")
  }

  /** Screened-Gram LARGE-P CROSS-VALIDATION on the correctness board
    * (round 18 — `LargeP.cvGaussian`, the gaussian cv.glmnet surface
    * past the p² cliff): the [[gaussLargeP]] 36-feature fixture under
    * a 5-fold CV at a fixed two-point lasso grid (λ₀ = 1.15·λmax —
    * above every training fold's own λmax, so every fold model is the
    * null intercept; λ₁ = 0.75·λmax — exactly one active coordinate
    * per fold, the single-coordinate soft-threshold closed form on
    * that fold's TRAIN moments) — driven through the REAL batched
    * chassis (one per-fold moment pass, union-candidate slab passes,
    * one batched gradient pass per path point serving all 6 models)
    * and emitted as the CV curve; DuckDB recomputes every fold's
    * train-moment soft threshold, the held-out-MSE moment form, and
    * the cvm/cvsd arithmetic. */
  def cvLargeP(spark: SparkSession, dir: String): DataFrame = {
    val feats = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val featCols = (col("l_extendedprice").cast("double") / 1000.0 +
      pmod(col("l_orderkey"), lit(3))).as("f0") +:
      (1 until 36).map(j =>
        pmod(col("l_orderkey") * (2 * j + 3) + col("l_linenumber") * (j + 1),
          lit(23)).cast("double").as(f"f$j%02d"))
    val li = tbl(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .select(col("l_orderkey") +: col("l_linenumber") +:
        col("l_extendedprice").cast("double").as("y") +: featCols: _*)
    val g = graft.ml.SufficientStats.compute(
      graft.ml.SufficientStats.toRdd(li, feats, Seq("y")), feats.size, 1)
    val st = graft.ml.SufficientStats.standardize(g,
      standardizeX = true, intercept = true)
    val lmax = st.b(0).map(math.abs).max
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = graft.ml.LargeP.cvGaussian(li, feats, "y",
      SgdNetParams(alpha = 1.0, lambda = Array(lmax * 1.15, lmax * 0.75),
        thresh = 1e-9, maxit = 100000),
      nfolds = 5, measure = "mse", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** SPARSE screened-Gram CV on the correctness board (round 18 —
    * `LargeP.cvSparseGaussian`, the CSR CV twin): the [[cvLargeP]]
    * fixture VERBATIM as CSR rows — same data, folds, two-point grid,
    * mse measure — so the oracle is byte-identical (DuckDB recomputes
    * fold train statistics, held-out-MSE moment form and cvm/cvsd)
    * and any divergence isolates the sparse CV chassis: the O(nnz)
    * per-fold moment pass, the slot-lookup slab passes, and the
    * batched centering-corrected sparse gradient pass. */
  def sparseCvLargeP(spark: SparkSession, dir: String): DataFrame = {
    val feats = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val featCols = (col("l_extendedprice").cast("double") / 1000.0 +
      pmod(col("l_orderkey"), lit(3))).as("f0") +:
      (1 until 36).map(j =>
        pmod(col("l_orderkey") * (2 * j + 3) + col("l_linenumber") * (j + 1),
          lit(23)).cast("double").as(f"f$j%02d"))
    val li = tbl(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .select(col("l_orderkey") +: col("l_linenumber") +:
        col("l_extendedprice").cast("double").as("y") +: featCols: _*)
      .withColumn("sidx", array(feats.indices.map(lit): _*))
      .withColumn("svals", array(feats.map(col): _*))
    val g = graft.ml.SufficientStats.compute(
      graft.ml.SufficientStats.toRdd(li, feats, Seq("y")), feats.size, 1)
    val st = graft.ml.SufficientStats.standardize(g,
      standardizeX = true, intercept = true)
    val lmax = st.b(0).map(math.abs).max
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = graft.ml.LargeP.cvSparseGaussian(li, "sidx", "svals",
      feats.size, "y",
      SgdNetParams(alpha = 1.0, lambda = Array(lmax * 1.15, lmax * 0.75),
        thresh = 1e-9, maxit = 100000),
      nfolds = 5, measure = "mse", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** Relaxed lasso through the screened-Gram chassis (round 18 —
    * `LargeP.relaxedFitGaussian`, glmnet relax = TRUE at large p):
    * the q_relaxed_fit fixture VERBATIM — same data, the
    * (λ > λmax, λ = 1.0) grid whose both stages are closed forms,
    * gamma = 0.5 — so the oracle is byte-identical and any divergence
    * isolates the screened relax: the captured E-Gram, the
    * driver-side active-set normal-equation refits (zero extra data
    * passes), and the empty-set intercept-only refit at λ > λmax. */
  def relaxedLargeP(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val rp = graft.ml.LargeP.relaxedFitGaussian(li, Seq("l_quantity"),
      "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(1e12, 1.0), thresh = 1e-9),
      gamma = 0.5)
    val m = rp.model
    val rows = for {
      l <- m.lambda.indices
      (term, la, ol) <- Seq(
        ("a0", m.a0(l)(0), rp.olsA0(l)),
        ("l_quantity", m.beta(l)(0)(0), rp.olsBeta(l)(0)))
    } yield (l, term, la, ol, rp.gamma * la + (1 - rp.gamma) * ol)
    rows.toDF("lambda_idx", "term", "lasso", "ols", "relaxed")
      .withColumn("lasso", round(col("lasso"), 4) + lit(0.0))
      .withColumn("ols", round(col("ols"), 4) + lit(0.0))
      .withColumn("relaxed", round(col("relaxed"), 4) + lit(0.0))
      .orderBy("lambda_idx", "term")
  }

  /** Screened-Gram LARGE-P IRLS route on the correctness board
    * (round 18 — `LargeP.fitBinomial`, the logistic path without the
    * p×p weighted Gram): the [[screenIrls]] fixture VERBATIM — same
    * features, label, lambda grid, one-IRLS-step discipline — driven
    * through the screened multi-pass chassis (O(p) moment pass →
    * strong-rule candidates → per-Newton fused KKT + weighted-moment
    * passes), so the oracle is byte-identical to q_screen_irls and any
    * divergence isolates the large-p IRLS chassis. At λ₀ > λmax the
    * candidate set is EMPTY (intercept-only weighted solve) — the
    * degenerate path the dense route never exercises. */
  def binomLargeP(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val isR = (col("l_returnflag") === "R").cast("int")
    val featCols = (isR * 4 + pmod(col("l_orderkey"), lit(3)))
      .cast("double").as("f0") +: (1 until 36).map(j =>
      pmod(col("l_orderkey") * (2 * j + 3) + col("l_linenumber") * (j + 1),
        lit(23)).cast("double").as(f"f$j%02d"))
    val li = tbl(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .select(col("l_orderkey") +: col("l_linenumber") +:
        isR.as("is_r") +: featCols: _*)
    val g = graft.ml.SufficientStats.compute(
      graft.ml.SufficientStats.toRdd(li, feats, Seq("is_r")),
      feats.size, 1)
    val st = graft.ml.SufficientStats.standardize(g,
      standardizeX = true, intercept = true)
    val lmax = st.b(0).map(math.abs).max
    val m = graft.ml.LargeP.fitBinomial(li, feats, "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(lmax * 1.0001, lmax * 0.75), thresh = 1e6))
    val rows = for {
      l <- 0 until 2
      (t, v) <- ("a0", m.a0(l)(0)) +:
        feats.zipWithIndex.map { case (f, j) => (f, m.beta(l)(0)(j)) }
    } yield (l, t, v)
    rows.toDF("lambda_idx", "term", "value")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("value"), 6) + lit(0.0)).as("value"))
      .orderBy("lambda_idx", "term")
  }

  /** WEIGHTED binomial through the screened-Gram IRLS chassis (round
    * 18 — `LargeP.fitBinomial(weightCol)`): the q_weighted_binom
    * fixture VERBATIM — same data, weights, lambda — so the oracle is
    * byte-identical (the intercept-only weighted logistic MLE closed
    * form) and any divergence isolates the weighted screened chassis:
    * the sum-to-n weight normalization pre-pass, the vn-folded ratio
    * moments of pass A, and the vn-folded IRLS weights of the
    * empty-candidate Newton solve. */
  def irlsWeightedLargeP(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val m = graft.ml.LargeP.fitBinomial(li, Seq("l_quantity"), "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = Array(1e6),
        thresh = 1e-9, maxit = 10000), weightCol = "l_linenumber")
    Seq(("a0", m.a0(0)(0)), ("l_quantity", m.beta(0)(0)(0)))
      .toDF("term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("term")
  }

  /** Binomial OFFSET fit through the screened-Gram IRLS chassis
    * (round 18 — `LargeP.fitBinomial(offsetCol)`): the
    * q_binom_offset_fit constant-offset one-IRLS-step fixture
    * VERBATIM — same data, offset, lambda, thresh — so the oracle is
    * byte-identical and any divergence isolates the offset screened
    * chassis: the driver-Newton null intercept (exact at a constant
    * offset), the offset-corrected seed-gradient lambda input, the
    * z − off WLS targets of the fused passes, and the offset
    * deviance scan. */
  def irlsOffsetLargeP(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
      .withColumn("c", lit(0.7))
    val m = graft.ml.LargeP.fitBinomial(li, Seq("l_quantity"), "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = Array(0.0002),
        thresh = 1e6), offsetCol = "c")
    Seq(("a0", m.a0(0)(0)), ("l_quantity", m.beta(0)(0)(0)))
      .toDF("term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("term")
  }

  /** Screened-Gram LARGE-P route on the correctness board (round 18 —
    * `LargeP.fitGaussian`, the gaussian path without the p×p Gram):
    * the [[screenIrls]] fixture design on the gaussian family —
    * f0 = y/1000 + a small integer hash carries manufactured dominant
    * signal (the synthetic lineitem has NO naturally dominant
    * regressor: corr(quantity, extendedprice) ≈ 0.003, below the
    * ±0.02 spurious correlations of the hash features — measured
    * before this design), 35 integer-hash pseudo-noise features have
    * working gradients near 0, λ₁ = 0.75·λmax — driven through the
    * REAL multi-pass chassis (moment pass → strong-set candidates →
    * Gram-extension pass → per-point full-gradient KKT passes), whose
    * output must be the single-coordinate soft-threshold closed form:
    * b = S(c₀, λ₁)/sd₀ on standardized coordinates, a0 = ȳ − b·m₀,
    * every noise coefficient exactly 0 — recomputed feature-by-feature
    * in DuckDB at both path points. */
  def gaussLargeP(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val featCols = (col("l_extendedprice").cast("double") / 1000.0 +
      pmod(col("l_orderkey"), lit(3))).as("f0") +:
      (1 until 36).map(j =>
        pmod(col("l_orderkey") * (2 * j + 3) + col("l_linenumber") * (j + 1),
          lit(23)).cast("double").as(f"f$j%02d"))
    val li = tbl(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .select(col("l_extendedprice").cast("double").as("y") +: featCols: _*)
    val g = graft.ml.SufficientStats.compute(
      graft.ml.SufficientStats.toRdd(li, feats, Seq("y")), feats.size, 1)
    val st = graft.ml.SufficientStats.standardize(g,
      standardizeX = true, intercept = true)
    val lmax = st.b(0).map(math.abs).max
    val m = graft.ml.LargeP.fitGaussian(li, feats, "y",
      SgdNetParams(alpha = 1.0, lambda = Array(lmax * 1.0001, lmax * 0.75),
        thresh = 1e-9, maxit = 100000))
    val rows = for {
      l <- 0 until 2
      (t, v) <- ("a0", m.a0(l)(0)) +:
        feats.zipWithIndex.map { case (f, j) => (f, m.beta(l)(0)(j)) }
    } yield (l, t, v)
    rows.toDF("lambda_idx", "term", "value")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("value"), 6) + lit(0.0)).as("value"))
      .orderBy("lambda_idx", "term")
  }

  /** Binomial fit with a CONSTANT offset, one IRLS step from the
    * closed-form offset null (`SgdNet.fitWithOffset`;
    * glmnet supports offset for every family): with a constant offset
    * c the null intercept is logit(p) − c exactly (the driver Newton
    * null solve starts there and its first step is a zero-gradient
    * confirmation), and the first IRLS step's weights are constant
    * w = p(1−p) — so the whole model is the [[binomFit]] closed form
    * with the intercept shifted by −c, bit-exact through the REAL
    * chain (Newton null → offset IRLS pass → CD → back-transform).
    * The per-row-varying offset regime is spec-anchored against
    * spark.ml GeneralizedLinearRegression (OffsetCvSpec). */
  def binomOffsetFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
      .withColumn("c", lit(0.7))
    val m = SgdNet.fitWithOffset(li, Seq("l_quantity"), "is_r", "c",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = Array(0.0002),
        thresh = 1e6))
    Seq(("a0", m.a0(0)(0)), ("l_quantity", m.beta(0)(0)(0)))
      .toDF("term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("term")
  }

  /** SPARSE binomial offset fit (round 16 — offset with a dgCMatrix x,
    * the last sparse × offset cell): the [[binomOffsetFit]] constant-
    * offset one-IRLS-step query verbatim through
    * `SgdNet.fitSparseWithOffset`'s uncentered sparse IRLS — same
    * data, offset, lambda, so the oracle is byte-identical and any
    * divergence isolates the sparse offset chassis. */
  def binomOffsetSparse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
      .withColumn("c", lit(0.7))
      .withColumn("sidx", array(lit(0)))
      .withColumn("svals", array(col("l_quantity").cast("double")))
    val m = SgdNet.fitSparseWithOffset(li, "sidx", "svals", 1, "is_r", "c",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = Array(0.0002),
        thresh = 1e6))
    Seq(("a0", m.a0(0)(0)), ("l_quantity", m.beta(0)(0)(0)))
      .toDF("term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("term")
  }

  /** Relaxed binomial path (round 16 — `SgdNet.relaxedFitGlm`, glmnet
    * relax = TRUE for the IRLS families): 2-lambda grid where BOTH
    * stages are closed forms. At λ = 1.0 the one-IRLS-step soft
    * threshold zeroes the coefficient, so penalized AND refit are the
    * null model (a0 = logit(p̄)). At λ = 2e-4 the penalized point is
    * the [[binomFit]] closed form, and with `thresh` large the
    * active-set refit is exactly ONE unpenalized WLS step from it —
    * per-row w = max(μ(1−μ), 1e-5), z = η + (y−μ)/w at the
    * closed-form (a0, b), then the 2×2 Cramer solve — all SQL
    * aggregations. The γ = 0.25 blend is linear. Converged refits are
    * spark.ml-anchored (RelaxedGlmSpec). */
  def relaxedBinom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val rp = SgdNet.relaxedFit(li, Seq("l_quantity"), "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(1.0, 0.0002), thresh = 1e6), gamma = 0.25)
    val rows = for {
      l <- 0 until 2
      (term, pen, ols) <- Seq(
        ("a0", rp.model.a0(l)(0), rp.olsA0(l)),
        ("l_quantity", rp.model.beta(l)(0)(0), rp.olsBeta(l)(0)))
    } yield (l, term, pen, ols, 0.25 * pen + 0.75 * ols)
    rows.toDF("lambda_idx", "term", "pen", "ols", "blend")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("pen"), 6) + lit(0.0)).as("pen"),
        (round(col("ols"), 6) + lit(0.0)).as("ols"),
        (round(col("blend"), 6) + lit(0.0)).as("blend"))
      .orderBy("lambda_idx", "term")
  }

  /** Relaxed binomial through the screened chassis (round 18 —
    * `LargeP.relaxedFitBinomial`, glmnet relax for the IRLS families
    * at large p): the [[relaxedBinom]] 2-lambda closed-form fixture
    * VERBATIM — same data, grid, gamma — through the screened
    * penalized path + the shared lockstep restricted-moment refit, so
    * the oracle is byte-identical and any divergence isolates the
    * screened-penalized × refit composition. */
  def relaxedGlmLargePQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val rp = graft.ml.LargeP.relaxedFitBinomial(li, Seq("l_quantity"),
      "is_r", SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(1.0, 0.0002), thresh = 1e6), gamma = 0.25)
    val rows = for {
      l <- 0 until 2
      (term, pen, ols) <- Seq(
        ("a0", rp.model.a0(l)(0), rp.olsA0(l)),
        ("l_quantity", rp.model.beta(l)(0)(0), rp.olsBeta(l)(0)))
    } yield (l, term, pen, ols, 0.25 * pen + 0.75 * ols)
    rows.toDF("lambda_idx", "term", "pen", "ols", "blend")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("pen"), 6) + lit(0.0)).as("pen"),
        (round(col("ols"), 6) + lit(0.0)).as("ols"),
        (round(col("blend"), 6) + lit(0.0)).as("blend"))
      .orderBy("lambda_idx", "term")
  }

  /** SPARSE relaxed binomial (round 16 — `SgdNet.relaxedFitGlmSparse`):
    * the [[relaxedBinom]] 2-lambda closed-form query verbatim over CSR
    * rows — same data, grid and gamma, so the oracle is byte-identical
    * to q_relaxed_binom and any divergence isolates the sparse
    * restricted-moment refit chassis. */
  def relaxedBinomSparse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
      .withColumn("sidx", array(lit(0)))
      .withColumn("svals", array(col("l_quantity").cast("double")))
    val rp = SgdNet.relaxedFitGlmSparse(li, "sidx", "svals", 1, "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(1.0, 0.0002), thresh = 1e6), gamma = 0.25)
    val rows = for {
      l <- 0 until 2
      (term, pen, ols) <- Seq(
        ("a0", rp.model.a0(l)(0), rp.olsA0(l)),
        ("l_quantity", rp.model.beta(l)(0)(0), rp.olsBeta(l)(0)))
    } yield (l, term, pen, ols, 0.25 * pen + 0.75 * ols)
    rows.toDF("lambda_idx", "term", "pen", "ols", "blend")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("pen"), 6) + lit(0.0)).as("pen"),
        (round(col("ols"), 6) + lit(0.0)).as("ols"),
        (round(col("blend"), 6) + lit(0.0)).as("blend"))
      .orderBy("lambda_idx", "term")
  }

  /** Multinomial lasso over l_returnflag (3 classes), ONE FISTA step from
    * the null point (maxit = 1) — closed form, so oracle-EXACT: the null
    * intercepts are ln(class priors) (softmax gradient w.r.t. a0 vanishes
    * there), the step size is 1/(0.5*maxEig(gram)+1e-9) where the 2x2
    * standardized Gram's power iteration returns 1 + corr(x1,x2) (the
    * start vector [1,1] is its eigenvector), and the coefficient update
    * is one soft-threshold of step * cov(x_j, 1[y=t])/sd_j. Converged
    * multinomial fits are KKT- and spark.ml-verified in
    * `SgdNetMultiSpec`. */
  def multinomFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity", "l_discount"), "l_returnflag",
      SgdNetParams(family = "multinomial", alpha = 1.0, lambda = Array(0.001),
        maxit = 1))
    val rows = for {
      t <- 0 until m.nResponses
      (term, v) <- ("a0", m.a0(0)(t)) +:
        m.featureNames.toSeq.zipWithIndex.map { case (f, j) => (f, m.beta(0)(t)(j)) }
    } yield (m.classLabels(t), term, v)
    rows.toDF("class", "term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("class", "term")
  }

  /** Multinomial at LARGE p on the correctness board (round 18 —
    * `LargeP.fitMultinomial`, the FISTA core without the p×p Gram):
    * the [[multinomFit]] one-FISTA-step fixture VERBATIM — same data,
    * lambda, maxit = 1 — through the large-p chassis, so the oracle is
    * byte-identical and any divergence isolates the O(p·k) moment pass
    * or the DISTRIBUTED power-iteration Lipschitz (on this 2-feature
    * fixture the uniform start IS the Gram's eigenvector, so the
    * distributed recursion returns the dense `maxEig` value exactly
    * and the one soft-threshold step reproduces the closed form). */
  def multinomLargeP(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = graft.ml.LargeP.fitMultinomial(li,
      Seq("l_quantity", "l_discount"), "l_returnflag",
      SgdNetParams(family = "multinomial", alpha = 1.0,
        lambda = Array(0.001), maxit = 1))
    val rows = for {
      t <- 0 until m.nResponses
      (term, v) <- ("a0", m.a0(0)(t)) +:
        m.featureNames.toSeq.zipWithIndex.map { case (f, j) => (f, m.beta(0)(t)(j)) }
    } yield (m.classLabels(t), term, v)
    rows.toDF("class", "term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("class", "term")
  }

  /** Sparse (CSR) twin of [[multinomLargeP]] — the same fixture
    * through `LargeP.fitSparseMultinomial` (sparse moment pass, the
    * centering-corrected sparse power-iteration matvec, and the
    * sparse softmax kernels), byte-identical oracle. The model's
    * V$j feature names are remapped for the output frame only. */
  def multinomSparseLargeP(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val names = Seq("l_quantity", "l_discount")
    val li = tbl(spark, dir, "lineitem")
      .withColumn("sidx", array(lit(0), lit(1)))
      .withColumn("svals", array(col("l_quantity").cast("double"),
        col("l_discount").cast("double")))
    val m = graft.ml.LargeP.fitSparseMultinomial(li, "sidx", "svals", 2,
      "l_returnflag",
      SgdNetParams(family = "multinomial", alpha = 1.0,
        lambda = Array(0.001), maxit = 1))
    val rows = for {
      t <- 0 until m.nResponses
      (term, v) <- ("a0", m.a0(0)(t)) +:
        names.zipWithIndex.map { case (f, j) => (f, m.beta(0)(t)(j)) }
    } yield (m.classLabels(t), term, v)
    rows.toDF("class", "term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("class", "term")
  }

  /** GROUPED multinomial penalty (the reference's own TODO,
    * R/sgdnet.R:265), ONE FISTA step from the null point — closed form
    * like [[multinomFit]], except the prox is the group soft-threshold
    * across classes: per feature j the class-vector v (= step * grads)
    * shrinks by (1 - step*lam / ||v||_2)+ instead of entrywise.
    * Converged grouped fits are KKT-verified in `SgdNetMultiSpec`. */
  def multinomGrouped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity", "l_discount"), "l_returnflag",
      SgdNetParams(family = "multinomial", alpha = 1.0,
        lambda = Array(0.001), maxit = 1, typeMultinomial = "grouped"))
    val rows = for {
      t <- 0 until m.nResponses
      (term, v) <- ("a0", m.a0(0)(t)) +:
        m.featureNames.toSeq.zipWithIndex.map { case (f, j) => (f, m.beta(0)(t)(j)) }
    } yield (m.classLabels(t), term, v)
    rows.toDF("class", "term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("class", "term")
  }

  /** Multinomial fit with a constant per-class OFFSET, ONE FISTA step
    * (round 16 — `SgdNet.fitMultinomialWithOffset`; glmnet's
    * multinomial offset is an n × nclass matrix): with constant
    * offsets c_t the Newton offset-null starts at
    * ln(prior_t) − mean(off_t) = ln(prior_t) − c_t, which is EXACT
    * (zero gradient, zero steps), so eta at the null equals the plain
    * fit's start and the whole one-step trajectory is the
    * [[multinomFit]] closed form with each class intercept shifted by
    * −c_t. The varying-offset regime (cluster-pass Newton null, k×k
    * driver solve) is spec-anchored in OffsetCvSpec. */
  def multinomOffset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("off_a", lit(0.4)).withColumn("off_n", lit(-0.2))
      .withColumn("off_r", lit(0.1))
    val m = SgdNet.fitMultinomialWithOffset(li,
      Seq("l_quantity", "l_discount"), "l_returnflag",
      Seq("off_a", "off_n", "off_r"),
      SgdNetParams(family = "multinomial", alpha = 1.0,
        lambda = Array(0.001), maxit = 1))
    val rows = for {
      t <- 0 until m.nResponses
      (term, v) <- ("a0", m.a0(0)(t)) +:
        m.featureNames.toSeq.zipWithIndex.map { case (f, j) => (f, m.beta(0)(t)(j)) }
    } yield (m.classLabels(t), term, v)
    rows.toDF("class", "term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("class", "term")
  }

  /** SPARSE multinomial offset fit (round 16 —
    * `SgdNet.fitSparseMultinomialWithOffset`): the [[multinomOffset]]
    * constant-offset one-FISTA-step query verbatim over CSR rows —
    * same data, offsets and lambda, so the oracle is byte-identical
    * to q_multinom_offset and any divergence isolates the sparse
    * offset chassis (the q_binom_offset_sparse discipline). */
  def multinomOffsetSparse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("off_a", lit(0.4)).withColumn("off_n", lit(-0.2))
      .withColumn("off_r", lit(0.1))
      .withColumn("sidx", array(lit(0), lit(1)))
      .withColumn("svals", array(col("l_quantity").cast("double"),
        col("l_discount").cast("double")))
    val m = SgdNet.fitSparseMultinomialWithOffset(li, "sidx", "svals", 2,
      "l_returnflag", Seq("off_a", "off_n", "off_r"),
      SgdNetParams(family = "multinomial", alpha = 1.0,
        lambda = Array(0.001), maxit = 1))
    val names = Seq("l_quantity", "l_discount")
    val rows = for {
      t <- 0 until m.nResponses
      (term, v) <- ("a0", m.a0(0)(t)) +:
        names.zipWithIndex.map { case (f, j) => (f, m.beta(0)(t)(j)) }
    } yield (m.classLabels(t), term, v)
    rows.toDF("class", "term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("class", "term")
  }

  /** mgaussian with a per-response OFFSET matrix at lambda = 0 (round
    * 16 — `SgdNet.fitMultiWithOffset`): identity link makes the
    * offset fit the exact OLS of y_t − off_t, so the oracle is the
    * [[mgaussFit]] Cramer closed form with each response mean shifted
    * by its constant offset (slopes unchanged, intercepts −c_t). */
  def mgaussOffset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("off1", lit(100.0)).withColumn("off2", lit(0.05))
    val m = SgdNet.fitMultiWithOffset(li, Seq("l_quantity", "l_discount"),
      Seq("l_extendedprice", "l_tax"), Seq("off1", "off2"),
      SgdNetParams(family = "mgaussian", lambda = Array(0.0),
        thresh = 1e-11, maxit = 100000))
    val rows = for {
      t <- 0 until 2
      (term, v) <- ("a0", m.a0(0)(t)) +:
        m.featureNames.toSeq.zipWithIndex.map { case (f, j) => (f, m.beta(0)(t)(j)) }
    } yield (m.responseNames(t), term, v)
    rows.toDF("response", "term", "value")
      .withColumn("value", round(col("value"), 4) + lit(0.0))
      .orderBy("response", "term")
  }

  /** mgaussian at lambda=0 == per-response OLS: exact SQL oracle via
    * 2-feature Cramer solves for both responses. */
  def mgaussFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fitMulti(li, Seq("l_quantity", "l_discount"),
      Seq("l_extendedprice", "l_tax"),
      SgdNetParams(family = "mgaussian", lambda = Array(0.0),
        thresh = 1e-11, maxit = 100000))
    val rows = for {
      t <- 0 until 2
      (term, v) <- ("a0", m.a0(0)(t)) +:
        m.featureNames.toSeq.zipWithIndex.map { case (f, j) => (f, m.beta(0)(t)(j)) }
    } yield (m.responseNames(t), term, v)
    rows.toDF("response", "term", "value")
      .withColumn("value", round(col("value"), 4) + lit(0.0))
      .orderBy("response", "term")
  }

  /** mgaussian with BOX LIMITS (round 16 — the boxed group prox,
    * `LinAlg.boxedGroupProx`): 1-feature 2-response ridge grid with
    * lower/upper limits that BIND for the steep response at the small
    * lambdas and stay slack elsewhere. At alpha = 0 the group-l1 term
    * vanishes, so the prox decouples into the exact per-response
    * clipped ridge step u_t = clip(b_std_t/(gjj + λ), ±20·sd) — the
    * whole curve (bound transitions included) verifies in closed form
    * in DuckDB, while the call still drives the full boxed-group-prox
    * machinery end-to-end (the alpha > 0 bisection regime is
    * spec-anchored in GroupLimitsSpec). */
  def mgaussLimits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fitMulti(li, Seq("l_quantity"),
      Seq("l_extendedprice", "l_tax"),
      SgdNetParams(family = "mgaussian", alpha = 0.0,
        lambda = Array(256.0, 16.0, 1.0, 0.0),
        lowerLimits = Array(-20.0), upperLimits = Array(20.0),
        thresh = 1e-11, maxit = 100000))
    val rows = for {
      l <- m.lambda.indices
      t <- 0 until 2
      (term, v) <- Seq(("a0", m.a0(l)(t)), ("l_quantity", m.beta(l)(t)(0)))
    } yield (l, m.responseNames(t), term, v)
    rows.toDF("lambda_idx", "response", "term", "value")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("response"),
        col("term"), (round(col("value"), 4) + lit(0.0)).as("value"))
      .orderBy("lambda_idx", "response", "term")
  }

  /** Poisson fit verified BIT-EXACTLY end-to-end: one IRLS step from the
    * closed-form null point (same construction as [[binomFit]] — at the
    * null the Poisson weights are constant w = ybar, so b_std =
    * S(cov(x_std, y), lambda)/ybar and a0 = ln(ybar)). The converged
    * multi-feature path stays covered by PoissonSpec against spark.ml
    * GeneralizedLinearRegression. */
  def poissonFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_discount"), "l_quantity",
      SgdNetParams(family = "poisson", alpha = 1.0, lambda = Array(0.01),
        thresh = 1e6))
    Seq(("a0", m.a0(0)(0)), ("l_discount", m.beta(0)(0)(0)))
      .toDF("term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("term")
  }

  /** Binomial IRLS convergence against the closed form: at lambda large
    * enough to zero the coefficient, the fit must land EXACTLY on the
    * intercept-only model a0 = log(p/(1-p)) — an end-to-end oracle for
    * the distributed IRLS + CD solver (the multi-feature path has no
    * closed form; this point does). */
  def binomNullFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val m = SgdNet.fit(li, Seq("l_quantity"), "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = Array(1e6),
        thresh = 1e-9, maxit = 10000))
    Seq(("a0", m.a0(0)(0)), ("l_quantity", m.beta(0)(0)(0)))
      .toDF("term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("term")
  }

  /** Poisson IRLS convergence against the closed form a0 = ln(mean y)
    * (same construction as [[binomNullFit]]). */
  def poissonNullFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_discount"), "l_quantity",
      SgdNetParams(family = "poisson", alpha = 1.0, lambda = Array(1e6),
        thresh = 1e-9, maxit = 10000))
    Seq(("a0", m.a0(0)(0)), ("l_discount", m.beta(0)(0)(0)))
      .toDF("term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("term")
  }

  /** predict.cv_sgdnet with the portable-fold CV of [[cvExactFit]]:
    * lambda.min lands on a path point, so the interpolated coefficients
    * are the closed-form soft-threshold — the whole select-then-predict
    * chain verifies against DuckDB. */
  def cvExactPredict(spark: SparkSession, dir: String): DataFrame = {
    val cv = cvExactFit(spark, dir)
    cv.predictAt(tbl(spark, dir, "lineitem").filter(col("l_orderkey") <= 5),
        "lambda.min")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("pred"), 2).as("pred"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Poisson null deviance: 2*sum[y ln(y/ybar) - (y - ybar)] (exact oracle). */
  def poissonNullDev(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_discount"), "l_quantity",
      SgdNetParams(family = "poisson", lambda = Array(1e6), maxit = 5))
    Seq(m.nulldev).toDF("nulldev").withColumn("nulldev", round(log(col("nulldev")), 4))
  }

  // ------------------------------------------------------- predict queries

  /** predict(type="response") of the fixed binomial model. */
  def predictResponse(spark: SparkSession, dir: String): DataFrame = {
    val m = fixedBinomial()
    tbl(spark, dir, "lineitem").filter(col("l_orderkey") <= 10)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(m.responseCol(0), 6).as("prob"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** predict with glmnet `newoffset` (round 16 —
    * `SgdNetModel.predictWithOffset`): the fixed binomial model scored
    * with a per-row VARYING offset column (2·l_tax) added to the
    * linear predictor before the sigmoid / class cut — link, response
    * and class types in one result, each an exact SQL form. */
  def predictOffset(spark: SparkSession, dir: String): DataFrame = {
    val m = fixedBinomial()
    val base = tbl(spark, dir, "lineitem").filter(col("l_orderkey") <= 10)
      .withColumn("noff", col("l_tax") * 2.0)
    m.predictWithOffset(
        m.predictWithOffset(
          m.predictWithOffset(base, Seq("noff"), "link")
            .withColumnRenamed("pred_0", "eta"),
          Seq("noff"), "response").withColumnRenamed("pred_0", "prob"),
        Seq("noff"), "class").withColumnRenamed("pred_0", "pred")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("eta"), 6).as("eta"), round(col("prob"), 6).as("prob"),
        col("pred"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** predict(type="class") of the fixed multinomial model. */
  def predictClass(spark: SparkSession, dir: String): DataFrame = {
    val m = fixedMultinomial()
    tbl(spark, dir, "lineitem").filter(col("l_orderkey") <= 20)
      .select(col("l_orderkey"), col("l_linenumber"), m.classCol(0).as("pred"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** score(type.measure="class") of the fixed binomial model. */
  def scoreClass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = fixedBinomial()
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", when(col("l_returnflag") === "R", "1").otherwise("0"))
    val err = li.agg(avg((m.classCol(0) =!= col("is_r")).cast("double")))
      .head().getDouble(0)
    Seq(err).toDF("class_error").withColumn("class_error", round(col("class_error"), 6))
  }

  // ------------------------------------------- path inspection / plot data

  /** predict(type="nonzero") on the fixed-lambda single-feature path. */
  def nonzeroQ(spark: SparkSession, dir: String): DataFrame = {
    val m = singleFeaturePath(spark, dir)
    m.nonzeroDF(spark)
      .withColumn("lambda_idx", col("lambda_idx").cast("int"))
      .orderBy("lambda_idx")
  }

  /** df per lambda (printed path summary df column). */
  def dfPath(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = singleFeaturePath(spark, dir)
    m.df.zipWithIndex.map { case (d, l) => (l, d) }.toSeq
      .toDF("lambda_idx", "df").orderBy("lambda_idx")
  }

  /** glmnet dfmax path truncation (round 16 — `SgdNetParams.dfmax`):
    * a 1-feature lasso on a grid bracketing the activation threshold
    * bmax = |cov(x_std, y)| (the soft threshold zeroes the coefficient
    * iff λ ≥ bmax), with dfmax = 0 — the returned path must be exactly
    * the λ > bmax prefix, the first active point dropped and the path
    * stopped. DuckDB recomputes bmax and the surviving grid. Multi-
    * feature dfmax/pmax, the GLM/multinomial cores and the post-hoc
    * secondary routes are spec-anchored (DfmaxSpec). */
  def dfmaxPath(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val bmax = li.agg((abs(covar_pop(col("l_quantity"), col("l_extendedprice"))) /
      sqrt(var_pop(col("l_quantity")))).as("b")).head().getDouble(0)
    val grid = Array(2.0, 1.5, 1.01, 0.99, 0.5, 0.1).map(_ * bmax)
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = grid, thresh = 1e-10, dfmax = 0))
    m.lambda.zip(m.df).zipWithIndex.map { case ((lam, d), i) => (i, lam, d) }
      .toSeq.toDF("lambda_idx", "lambda", "df")
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"), col("df").cast("int").as("df"))
      .orderBy("lambda_idx")
  }

  /** print(fit) summary frame: (lambda_idx, df, dev_ratio, lambda). */
  def pathSummary(spark: SparkSession, dir: String): DataFrame = {
    val m = singleFeaturePath(spark, dir)
    m.summaryDF(spark)
      .withColumn("dev_ratio", round(col("dev_ratio"), 6) + lit(0.0))
      .withColumn("lambda", round(col("lambda"), 4))
      .orderBy("lambda_idx")
  }

  /** Coefficient-path long frame (plot.sgdnet data) on the fixed path. */
  def plotPathData(spark: SparkSession, dir: String): DataFrame = {
    val m = singleFeaturePath(spark, dir)
    m.coefDF(spark)
      .select(col("lambda_idx").cast("int"), col("term"),
        (round(col("value"), 4) + lit(0.0)).as("value"))
      .orderBy("lambda_idx", "term")
  }

  /** deviance(fit) for the 1-feature OLS (ln-encoded). */
  def devianceQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(lambda = Array(0.0), thresh = 1e-10))
    Seq(m.deviance(0)).toDF("deviance")
      .withColumn("deviance", round(log(col("deviance")), 4))
  }

  // -------------------------------------------------------------------- CV

  /** Multi-feature oracle-exact CV: 3-feature RIDGE (alpha = 0) over a
    * fixed lambda grid with portable Knuth-hash folds. Ridge is the
    * multi-feature family whose per-fold solution is CLOSED FORM — the
    * standardized 3x3 system (C + lambda I) b = d solves by Cramer's
    * rule on subtracted fold moments, and the held-out MSE is the same
    * moment form the engine evaluates — so DuckDB replicates the entire
    * curve (the engine-default content-hash xxhash64 folds stay covered
    * by `CvSpec`). */
  private[queries] def cvRidgeFit(spark: SparkSession, dir: String): CvSgdNet.CvResult = {
    val li = tbl(spark, dir, "lineitem")
    val lambdas = Array(256.0, 128.0, 64.0, 32.0, 16.0, 8.0, 4.0, 2.0, 1.0, 0.5)
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    CvSgdNet.fit(li, Seq("l_quantity", "l_discount", "l_tax"),
      Seq("l_extendedprice"),
      SgdNetParams(alpha = 0.0, lambda = lambdas, thresh = 1e-11, maxit = 100000),
      nfolds = 5, foldCol = fold)
  }

  /** CV curve over the 3-feature ridge path ([[cvRidgeFit]]) —
    * oracle-exact (was rows-only under the engine-hash folds). */
  def cvCurve(spark: SparkSession, dir: String): DataFrame =
    cvRidgeFit(spark, dir).curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 4).as("ln_cvm"),
        round(log(col("cvsd")), 4).as("ln_cvsd"))
      .orderBy("lambda_idx")

  /** CV over an ALPHA GRID (reference cv_sgdnet(alpha = c(...))): the
    * 1-feature elastic net is closed form at EVERY alpha — the
    * soft-threshold / ridge-shrink solution
    * S(c, lam*alpha) / (1 + lam*(1-alpha)) on subtracted fold moments —
    * so the full 3-alpha x 6-lambda CV surface verifies hash-exact
    * (ln-encoded, the same rounding discipline as the other CV
    * oracles). Exercises the multi-path CvResult: one CvPath per alpha,
    * best picked by min cvm. */
  def cvAlphaCurve(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val lambdas = Array(256.0, 64.0, 16.0, 4.0, 1.0, 0.25)
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fit(li, Seq("l_quantity"), Seq("l_extendedprice"),
      SgdNetParams(alpha = 1.0, lambda = lambdas, thresh = 1e-7),
      nfolds = 5, alphas = Seq(1.0, 0.5, 0.0), measure = "mse",
      foldCol = fold)
    cv.curveDF(spark)
      .select((round(col("alpha"), 2) + lit(0.0)).as("alpha"),
        col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("alpha", "lambda_idx")
  }

  /** print.cv_sgdnet data: the per-alpha selection summary (selected
    * lambdas with their CV scores) over the closed-form ridge chain —
    * reference print.cv_sgdnet. */
  def cvSummary(spark: SparkSession, dir: String): DataFrame =
    cvRidgeFit(spark, dir).summaryDF(spark)
      .select((round(col("alpha"), 2) + lit(0.0)).as("alpha"),
        round(col("lambda_min"), 4).as("lambda_min"),
        round(log(col("cvm_min")), 6).as("ln_cvm_min"),
        round(log(col("cvsd_min")), 6).as("ln_cvsd_min"),
        round(col("lambda_1se"), 4).as("lambda_1se"),
        round(log(col("cvm_1se")), 6).as("ln_cvm_1se"))

  /** deviance.cv_sgdnet: the full-data fit's deviance path (reference
    * R/deviance.sgdnet.R, (1 - dev.ratio) * nulldev per lambda) over
    * the closed-form ridge chain — the oracle recomputes each lambda's
    * RSS in original-scale moment form. */
  def cvDeviance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cv = cvRidgeFit(spark, dir)
    cv.deviance.zipWithIndex.map { case (d, l) => (l, d) }.toSeq
      .toDF("lambda_idx", "dev")
      .select(col("lambda_idx"), round(log(col("dev")), 6).as("ln_dev"))
      .orderBy("lambda_idx")
  }

  /** standardize.response (mgaussian, reference sgdnet argument), at
    * alpha = 0.5 so the flag is OBSERVABLE: the group prox couples the
    * responses through the l2 norm of the y-STANDARDIZED gradients
    * (at alpha = 0 the sd_y factors cancel algebraically and the
    * output could not distinguish a broken flag). For p = 1 the group
    * soft-threshold is still closed form:
    * shrink = (1 - lam*alpha/||c_std||)+ / (1 + lam*(1-alpha)),
    * b_t = c_std_t * shrink / sd_x * sd_yt. */
  def mgaussStdResp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fitMulti(li, Seq("l_quantity"),
      Seq("l_extendedprice", "l_tax"),
      SgdNetParams(family = "mgaussian", alpha = 0.5, lambda = Array(2.0),
        standardizeResponse = true, thresh = 1e-9))
    (0 until 2).map(t => (m.responseNames(t), m.a0(0)(t), m.beta(0)(t)(0)))
      .toDF("response", "a0", "b")
      .select(col("response"), (round(col("a0"), 4) + lit(0.0)).as("a0"),
        (round(col("b"), 8) + lit(0.0)).as("b"))
      .orderBy("response")
  }

  /** score.sgdnet_mgaussian (reference R/score.R:163-180): per-row error
    * summed across BOTH responses, averaged over rows — exercises the
    * mgaussian branch of [[SgdNetModel.score]] end-to-end. lambda = 0
    * makes the fit per-response OLS, so DuckDB's regr_slope/intercept
    * reproduce the model and the score is a plain aggregation. */
  def scoreMgauss(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fitMulti(li, Seq("l_quantity"),
      Seq("l_extendedprice", "l_tax"),
      SgdNetParams(family = "mgaussian", lambda = Array(0.0),
        thresh = 1e-11, maxit = 100000))
    val mse = m.score(li, "mse")
      .select(lit("mse").as("measure"),
        (round(log(col("score")), 4) + lit(0.0)).as("ln_score"))
    val mae = m.score(li, "mae")
      .select(lit("mae").as("measure"),
        (round(log(col("score")), 4) + lit(0.0)).as("ln_score"))
    mse.unionAll(mae).orderBy("measure")
  }

  /** score.cv_sgdnet: score data at the CV-selected penalty (reference
    * R/score.R:182-201) — held-in MSE of the full-data ridge fit at
    * lambda.min, every step closed form. */
  def cvScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cv = cvRidgeFit(spark, dir)
    val li = tbl(spark, dir, "lineitem")
    Seq(cv.score(li, "mse", "lambda.min")).toDF("mse")
      .withColumn("mse", round(log(col("mse")), 4))
  }

  /** Oracle-exact cross-validation: 1-feature lasso over a log-spaced
    * path with a PORTABLE fold hash ([[graft.ops.Sampling.hashBucket]] of
    * the row key) — per-fold training is closed-form under moment
    * subtraction, so DuckDB reproduces the whole CV curve bit-exactly
    * (the 3-feature `q_cv_curve` keeps the default content-hash folds and
    * stays rows-only). */
  private def cvExactFit(spark: SparkSession, dir: String): CvSgdNet.CvResult = {
    val li = tbl(spark, dir, "lineitem")
    val lmax = li.agg(
      (abs(covar_pop(col("l_quantity"), col("l_extendedprice"))) /
        sqrt(var_pop(col("l_quantity")))).as("lmax")).head().getDouble(0)
    val lambdas = Array.tabulate(10)(i => lmax * math.pow(0.01, i / 9.0))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    CvSgdNet.fit(li, Seq("l_quantity"), Seq("l_extendedprice"),
      SgdNetParams(alpha = 1.0, lambda = lambdas, thresh = 1e-7),
      nfolds = 5, foldCol = fold)
  }

  /** Box-constrained cross-validation (cv.glmnet with lower.limits /
    * upper.limits): 1-feature lasso over a FIXED lambda grid with
    * portable Knuth folds, bounded to [0, 4] — per fold the constrained
    * coordinate solution is the CLOSED FORM clip(S(c_std, lam)/1, 0·sd,
    * 4·sd)/sd (the 1-D box prox the solver applies), so the whole CV
    * curve verifies hash-exact in DuckDB. The grid straddles the cap:
    * the unconstrained slope ≈ 7.2 means small lambdas BIND at 4.0 and
    * the largest does not — both branches of the clip are exercised.
    * Converged multi-feature bounded CV is spec-verified against
    * per-fold bounded refits in BoxConstraintsSpec. */
  def cvLimits(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fit(li, Seq("l_quantity"), Seq("l_extendedprice"),
      SgdNetParams(alpha = 1.0, lambda = Array(64.0, 16.0, 4.0, 1.0, 0.25),
        thresh = 1e-10, maxit = 100000,
        lowerLimits = Array(0.0), upperLimits = Array(4.0)),
      nfolds = 5, foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** Multinomial lasso with PER-FEATURE PENALTY FACTORS (glmnet
    * penalty.factor through the softmax FISTA route), ONE step from the
    * null point — the [[multinomFit]] closed form with the entrywise
    * threshold scaled per feature: b_tj = S(step·cov(xs_j, 1[y=t]),
    * step·lam·pf_j)/sd_j with pf = [0.5, 2.0]. Converged pf fits are
    * KKT-verified in SolverPropertySpec / SgdNetMultiSpec. */
  def multinomPf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity", "l_discount"), "l_returnflag",
      SgdNetParams(family = "multinomial", alpha = 1.0, lambda = Array(0.001),
        maxit = 1, penaltyFactor = Array(0.5, 2.0)))
    val rows = for {
      t <- 0 until m.nResponses
      (term, v) <- ("a0", m.a0(0)(t)) +:
        m.featureNames.toSeq.zipWithIndex.map { case (f, j) => (f, m.beta(0)(t)(j)) }
    } yield (m.classLabels(t), term, v)
    rows.toDF("class", "term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("class", "term")
  }

  /** WEIGHTED cross-validation (cv.glmnet weights): 1-feature weighted
    * RIDGE over a fixed grid with portable Knuth folds — each fold's
    * coefficients are the weighted-moment closed form
    * b = cov_w(x,y)/(var_w(x)·(1+λ)) on that fold's TRAIN rows, and the
    * held-out score is the v-weighted mse Σv·err/Σv, so the whole
    * curve verifies against DuckDB (ln-encoded at 4 dp — the row-
    * aggregated-scoring discipline of q_cv_mae). */
  def cvWeighted(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitWeighted(li, Seq("l_quantity"), "l_extendedprice",
      "l_linenumber",
      SgdNetParams(alpha = 0.0, lambda = Array(256.0, 16.0, 1.0),
        thresh = 1e-11, maxit = 100000),
      nfolds = 5, measure = "mse", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 4).as("ln_cvm"),
        round(log(col("cvsd")), 4).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** WEIGHTED CV over type.measure="auc" (cv.glmnet weights with the
    * rank measure — reference R/cv_sgdnet.R:119-128, R/score.R): the
    * [[cvAuc]] discipline with integer observation weights
    * (l_linenumber ∈ 1..7). Oracle-EXACT like q_cv_auc: a 1-feature
    * logistic model's v-weighted AUC depends only on the coefficient's
    * ACTIVITY — closed-form KKT at the null, |cov_w(x_std, y)| ≤ λ on
    * the fold's WEIGHTED train moments — and SIGN, while the
    * continuous-mass rank statistic itself is exact integer/half-
    * integer mass arithmetic on both engines (v, x, y all integral).
    * Exercises the round-15 shared weighted IRLS CV + weighted
    * aucPerGroup end-to-end. */
  def cvWeightedAuc(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val lambdas = Array(0.01, 0.003, 0.001, 5e-4, 2e-4, 5e-5)
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitWeighted(li, Seq("l_quantity"), "is_r",
      "l_linenumber",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = lambdas,
        thresh = 1e-5),
      nfolds = 5, measure = "auc", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 6).as("lambda"),
        (round(col("cvm"), 6) + lit(0.0)).as("cvm"),
        (round(col("cvsd"), 6) + lit(0.0)).as("cvsd"))
      .orderBy("lambda_idx")
  }

  /** WEIGHTED mgaussian CV (cv.glmnet weights + family="mgaussian",
    * round 15 — the fitWeightedMulti route): 1-feature 2-response
    * weighted RIDGE over a fixed grid with portable Knuth folds. At
    * alpha = 0 the group penalty decouples per response, so each
    * fold's coefficients are the per-response weighted-moment closed
    * form b_t = cov_w(x,y_t)/(var_w(x)·(1+λ)) on the TRAIN rows, and
    * the held-out score is the v-weighted mse SUMMED ACROSS RESPONSES
    * (the score.sgdnet_mgaussian convention) — fully DuckDB-exact
    * (ln-encoded 4 dp, the q_cv_weighted discipline). */
  def cvWeightedMgauss(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitWeightedMulti(li, Seq("l_quantity"),
      Seq("l_extendedprice", "l_tax"), "l_linenumber",
      SgdNetParams(family = "mgaussian", alpha = 0.0,
        lambda = Array(256.0, 16.0, 1.0), thresh = 1e-11, maxit = 100000),
      nfolds = 5, measure = "mse", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 4).as("ln_cvm"),
        round(log(col("cvsd")), 4).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** SPARSE-input CV (cv.glmnet with dgCMatrix x, round 15): the
    * 1-feature ridge CV of q_cv_weighted-without-weights pushed
    * through `CvSgdNet.fitSparse` — rows arrive as CSR (idx, vals)
    * arrays and the ONE-pass sparse-moment route must land on the
    * same per-fold closed form b = cov(x,y)/(var(x)·(1+λ)) the dense
    * oracle computes. */
  def cvSparse(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("sidx", array(lit(0)))
      .withColumn("svals", array(col("l_quantity").cast("double")))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitSparse(li, "sidx", "svals", 1, "l_extendedprice",
      SgdNetParams(alpha = 0.0, lambda = Array(256.0, 16.0, 1.0),
        thresh = 1e-11, maxit = 100000),
      nfolds = 5, measure = "mse", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 4).as("ln_cvm"),
        round(log(col("cvsd")), 4).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** SPARSE binomial CV over auc: the [[cvAuc]] query verbatim but
    * through `CvSgdNet.fitSparse`'s shared sparse IRLS — the oracle is
    * byte-identical to q_cv_auc's (same data, folds, grid; activity/
    * sign closed form + exact rank), so any divergence isolates the
    * sparse chassis. */
  def cvSparseAuc(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
      .withColumn("sidx", array(lit(0)))
      .withColumn("svals", array(col("l_quantity").cast("double")))
    val lambdas = Array(0.01, 0.003, 0.001, 5e-4, 2e-4, 5e-5)
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitSparse(li, "sidx", "svals", 1, "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = lambdas,
        thresh = 1e-5),
      nfolds = 5, measure = "auc", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 6).as("lambda"),
        (round(col("cvm"), 6) + lit(0.0)).as("cvm"),
        (round(col("cvsd"), 6) + lit(0.0)).as("cvsd"))
      .orderBy("lambda_idx")
  }

  /** SPARSE multinomial CV (round 16 — the last cv.glmnet-with-
    * dgCMatrix composition cell; reference cv_sgdnet delegates sparse x
    * to sgdnet for EVERY family, R/cv_sgdnet.R + tests/testthat/
    * test-sparse.R): the [[cvMultinom]] one-FISTA-step query verbatim
    * but through `CvSgdNet.fitSparse`'s shared sparse softmax chassis —
    * same data, folds, grid, so the oracle is byte-identical to
    * q_cv_multinom's and any divergence isolates the sparse route's
    * uncentered-accumulation + algebraic-centering algebra. */
  def cvSparseMultinom(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("sidx", array(lit(0), lit(1)))
      .withColumn("svals", array(col("l_quantity").cast("double"),
        col("l_discount").cast("double")))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitSparse(li, "sidx", "svals", 2, "l_returnflag",
      SgdNetParams(family = "multinomial", alpha = 1.0,
        lambda = Array(0.001), maxit = 1),
      nfolds = 5, measure = "deviance", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 6).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** SPARSE CV + observation weights (round 16 — cv.glmnet with
    * dgCMatrix x AND weights, the remaining sparse×weights CV cell):
    * the [[cvWeighted]] 1-feature weighted-ridge query verbatim but
    * through `CvSgdNet.fitSparse(..., weightCol)`'s one-pass RAW-v
    * weighted sparse moments — same data, folds, grid, weights, so the
    * oracle is byte-identical to q_cv_weighted's closed form
    * b = cov_w(x,y)/(var_w(x)·(1+λ)) on each fold's train rows. */
  def cvSparseWeighted(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("sidx", array(lit(0)))
      .withColumn("svals", array(col("l_quantity").cast("double")))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitSparse(li, "sidx", "svals", 1, "l_extendedprice",
      SgdNetParams(alpha = 0.0, lambda = Array(256.0, 16.0, 1.0),
        thresh = 1e-11, maxit = 100000),
      nfolds = 5, measure = "mse", foldCol = fold,
      weightCol = "l_linenumber")
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 4).as("ln_cvm"),
        round(log(col("cvsd")), 4).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** SPARSE mgaussian CV (round 16 — cv.glmnet with dgCMatrix x AND a
    * multi-response y, the last sparse-input family cell): the
    * [[cvMgauss]] query verbatim but through
    * `CvSgdNet.fitSparseMulti`'s one-pass multi-response sparse
    * moments — same data, folds, grid, so the oracle is byte-identical
    * to q_cv_mgauss's closed-form group soft-threshold curve. */
  def cvSparseMgauss(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("sidx", array(lit(0)))
      .withColumn("svals", array(col("l_quantity").cast("double")))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitSparseMulti(li, "sidx", "svals", 1,
      Seq("l_extendedprice", "l_tax"),
      SgdNetParams(family = "mgaussian", alpha = 1.0,
        lambda = Array(512.0, 128.0, 32.0, 8.0, 2.0, 0.5)),
      nfolds = 5, measure = "deviance", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  def cvExactCurve(spark: SparkSession, dir: String): DataFrame =
    cvExactFit(spark, dir).curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(log(col("lambda")), 4).as("ln_lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")

  /** Relaxed CV surface (round 16 — cv.glmnet relax = TRUE,
    * `CvSgdNet.fitRelaxed`): the [[cvExactCurve]] 1-feature lasso with
    * a gamma grid — per fold the penalized coefficient is the
    * closed-form soft threshold, the active-set OLS refit is the
    * plain covariance ratio (active iff the threshold didn't zero
    * it), the γ-blend is linear, and the held-out MSE is the moment
    * form — so the whole (gamma × lambda) surface verifies exactly in
    * DuckDB while driving the real one-pass relaxed-CV chassis. */
  def cvRelaxed(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val lmax = li.agg(
      (abs(covar_pop(col("l_quantity"), col("l_extendedprice"))) /
        sqrt(var_pop(col("l_quantity")))).as("lmax")).head().getDouble(0)
    val lambdas = Array.tabulate(10)(i => lmax * math.pow(0.01, i / 9.0))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitRelaxed(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = lambdas, thresh = 1e-7),
      nfolds = 5, gammas = Seq(0.0, 0.5, 1.0), foldCol = fold)
    cv.curveDF(spark)
      .select((round(col("gamma"), 2) + lit(0.0)).as("gamma"),
        col("lambda_idx").cast("int").as("lambda_idx"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("gamma", "lambda_idx")
  }

  /** SPARSE relaxed CV (round 16 — `CvSgdNet.fitRelaxedSparse`,
    * cv.glmnet relax = TRUE with dgCMatrix x): the [[cvRelaxed]]
    * 1-feature query verbatim over CSR rows — same data, folds,
    * lambda grid and gammas, so the oracle is byte-identical to
    * q_cv_relaxed and any divergence isolates the sparse moment
    * chassis. */
  def cvRelaxedSparse(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("sidx", array(lit(0)))
      .withColumn("svals", array(col("l_quantity").cast("double")))
    val lmax = li.agg(
      (abs(covar_pop(col("l_quantity"), col("l_extendedprice"))) /
        sqrt(var_pop(col("l_quantity")))).as("lmax")).head().getDouble(0)
    val lambdas = Array.tabulate(10)(i => lmax * math.pow(0.01, i / 9.0))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitRelaxedSparse(li, "sidx", "svals", 1,
      "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = lambdas, thresh = 1e-7),
      nfolds = 5, gammas = Seq(0.0, 0.5, 1.0), foldCol = fold)
    cv.curveDF(spark)
      .select((round(col("gamma"), 2) + lit(0.0)).as("gamma"),
        col("lambda_idx").cast("int").as("lambda_idx"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("gamma", "lambda_idx")
  }

  /** Relaxed BINOMIAL CV surface (round 16 — cv.glmnet relax = TRUE
    * for the IRLS families, `CvSgdNet.fitRelaxed` GLM route): with
    * `thresh` large every stage is closed-form — each fold's
    * penalized fit is ONE WLS step from its null (constant weights
    * ȳ_f(1−ȳ_f), the q_binom_fit form on fold-subtracted moments),
    * each fold's refit is ONE unpenalized WLS step from the penalized
    * point (per-row w/z over the TRAIN rows), and held-out deviance
    * scores the γ ∈ {0, 1} blends — the whole (gamma × fold) surface
    * reproduces in DuckDB. Converged refits are spark.ml-anchored
    * (RelaxedGlmSpec / RelaxedCvSpec). */
  def cvRelaxedBinom(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitRelaxed(li, Seq("l_quantity"), "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(0.0002), thresh = 1e6),
      nfolds = 5, gammas = Seq(0.0, 1.0), measure = "deviance",
      foldCol = fold)
    cv.curveDF(spark)
      .select((round(col("gamma"), 2) + lit(0.0)).as("gamma"),
        col("lambda_idx").cast("int").as("lambda_idx"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("gamma", "lambda_idx")
  }

  /** WEIGHTED relaxed BINOMIAL fit (round 17 — glmnet relax = TRUE +
    * weights for the IRLS families, `SgdNet.relaxedFitWeighted`
    * routing to the weighted GLM refit): with `thresh` large every
    * stage is closed-form on v-WEIGHTED moments — the penalized point
    * is ONE WLS step from the v-weighted null (constant weights
    * p̄_v(1−p̄_v), soft-thresholded v-weighted covariance), the refit
    * is ONE unpenalized WLS step with per-row accumulation weight
    * w·v (z uses the pure IRLS w), and λ = 1.0 zeroes the threshold
    * so penalized == refit == the v-weighted null. Converged weighted
    * refits are duplication-anchored in RelaxedGlmSpec. */
  def relaxedBinomWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
      .withColumn("w", col("l_linenumber").cast("double"))
    val rp = SgdNet.relaxedFitWeighted(li, Seq("l_quantity"), "is_r", "w",
      SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(1.0, 0.0002), thresh = 1e6), gamma = 0.25)
    val rows = for {
      l <- 0 until 2
      (term, pen, ols) <- Seq(
        ("a0", rp.model.a0(l)(0), rp.olsA0(l)),
        ("l_quantity", rp.model.beta(l)(0)(0), rp.olsBeta(l)(0)))
    } yield (l, term, pen, ols, 0.25 * pen + 0.75 * ols)
    rows.toDF("lambda_idx", "term", "pen", "ols", "blend")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("pen"), 6) + lit(0.0)).as("pen"),
        (round(col("ols"), 6) + lit(0.0)).as("ols"),
        (round(col("blend"), 6) + lit(0.0)).as("blend"))
      .orderBy("lambda_idx", "term")
  }

  /** Relaxed BINOMIAL fit WITH an offset (round 17 — glmnet
    * relax = TRUE + offset, `SgdNet.relaxedFitWithOffset` routing to
    * the offset-aware IRLS refit): constant offset c, so every stage
    * is closed-form — the offset null is logit(p̄) − c exactly, the
    * penalized point is the plain one-step form with the intercept
    * shifted by −c, and the refit is ONE unpenalized WLS step whose η
    * includes c while the WLS target excludes it. λ = 1.0 collapses
    * to the offset null on both sides of the blend. The varying-
    * offset regime is spec-anchored against spark.ml GLR
    * (RelaxedGlmSpec). */
  def relaxedBinomOffset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
      .withColumn("c", lit(0.7))
    val rp = SgdNet.relaxedFitWithOffset(li, Seq("l_quantity"), "is_r", "c",
      SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(1.0, 0.0002), thresh = 1e6), gamma = 0.25)
    val rows = for {
      l <- 0 until 2
      (term, pen, ols) <- Seq(
        ("a0", rp.model.a0(l)(0), rp.olsA0(l)),
        ("l_quantity", rp.model.beta(l)(0)(0), rp.olsBeta(l)(0)))
    } yield (l, term, pen, ols, 0.25 * pen + 0.75 * ols)
    rows.toDF("lambda_idx", "term", "pen", "ols", "blend")
      .select(col("lambda_idx").cast("int").as("lambda_idx"), col("term"),
        (round(col("pen"), 6) + lit(0.0)).as("pen"),
        (round(col("ols"), 6) + lit(0.0)).as("ols"),
        (round(col("blend"), 6) + lit(0.0)).as("blend"))
      .orderBy("lambda_idx", "term")
  }

  /** SPARSE relaxed BINOMIAL CV (round 17 — cv.glmnet relax = TRUE
    * with a dgCMatrix x and an IRLS family, the last sparse-delegation
    * cell of R/cv_sgdnet.R): the [[cvRelaxedBinom]] query verbatim
    * over CSR rows — same data, folds, lambda and gammas, so the
    * oracle is byte-identical to q_cv_relaxed_binom and any divergence
    * isolates the sparse fold-tiled GLM relax chassis. */
  def cvRelaxedBinomSparse(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
      .withColumn("sidx", array(lit(0)))
      .withColumn("svals", array(col("l_quantity").cast("double")))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitRelaxedSparse(li, "sidx", "svals", 1, "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(0.0002), thresh = 1e6),
      nfolds = 5, gammas = Seq(0.0, 1.0), measure = "deviance",
      foldCol = fold)
    cv.curveDF(spark)
      .select((round(col("gamma"), 2) + lit(0.0)).as("gamma"),
        col("lambda_idx").cast("int").as("lambda_idx"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("gamma", "lambda_idx")
  }

  /** Relaxed BINOMIAL CV WITH an offset (round 17 — cv.glmnet
    * relax = TRUE + offset, `CvSgdNet.fitRelaxed` offsetCol): a
    * CONSTANT offset c shifts every fold's penalized AND refit
    * intercept by exactly −c (the fold-tiled offset-null Newton is
    * exact at its start for constant offsets) while held-out scoring
    * adds the row's own offset back — so the whole (γ × λ) deviance
    * surface must reproduce the no-offset [[cvRelaxedBinom]] oracle
    * BYTE-IDENTICALLY, which only happens when the offset algebra is
    * right in every stage. The varying-offset regime is spec-anchored
    * (RelaxedCvSpec: γ=1 == plain offset CV, γ=0 == hand-scored
    * per-fold offset refits, dense == sparse incl. the
    * offset-corrected data-derived lambda path). */
  def cvRelaxedBinomOffset(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
      .withColumn("c", lit(0.7))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitRelaxed(li, Seq("l_quantity"), "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0,
        lambda = Array(0.0002), thresh = 1e6),
      nfolds = 5, gammas = Seq(0.0, 1.0), measure = "deviance",
      foldCol = fold, offsetCol = "c")
    cv.curveDF(spark)
      .select((round(col("gamma"), 2) + lit(0.0)).as("gamma"),
        col("lambda_idx").cast("int").as("lambda_idx"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("gamma", "lambda_idx")
  }

  def cvExactPick(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cv = cvExactFit(spark, dir)
    Seq((math.log(cv.best.lambdaMin), math.log(cv.best.lambda1se)))
      .toDF("ln_lambda_min", "ln_lambda_1se")
      .select(round(col("ln_lambda_min"), 4).as("ln_lambda_min"),
        round(col("ln_lambda_1se"), 4).as("ln_lambda_1se"))
  }

  /** Cross-validation over type.measure="auc" (reference
    * R/cv_sgdnet.R:119-128): 1-feature binomial lasso, portable Knuth
    * folds, FIXED lambda grid. Oracle-EXACT despite the iterative IRLS
    * solver, because the AUC of a 1-feature logistic model depends only
    * on the coefficient's ACTIVITY and SIGN (AUC is invariant to
    * monotone score transforms): the KKT condition at the null point —
    * beta = 0 iff |cov(x_std, y)| <= lambda on the fold's train moments
    * — is closed-form, and the rank statistic itself is engine-portable.
    * The curve therefore verifies bit-exactly in DuckDB while still
    * driving the full CV-with-auc machinery end-to-end. */
  def cvAuc(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val lambdas = Array(0.01, 0.003, 0.001, 5e-4, 2e-4, 5e-5)
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    // moderate thresh: the oracle depends only on coefficient ACTIVITY
    // (exact KKT, any thresh) and SIGN (stable after the first Newton
    // step), so tight convergence would only buy extra IRLS data passes
    val cv = CvSgdNet.fit(li, Seq("l_quantity"), Seq("is_r"),
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = lambdas,
        thresh = 1e-5),
      nfolds = 5, measure = "auc", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 6).as("lambda"),
        (round(col("cvm"), 6) + lit(0.0)).as("cvm"),
        (round(col("cvsd"), 6) + lit(0.0)).as("cvsd"))
      .orderBy("lambda_idx")
  }

  /** Batched screened-Gram GLM CV on the correctness board (round 18 —
    * `LargeP.cvBinomial`, the lockstep-Newton IRLS CV past the p²
    * cliff): the [[cvAuc]] fixture VERBATIM — same data, Knuth folds,
    * fixed lambda grid, auc measure — through the large-p chassis, so
    * the oracle is byte-identical (the 1-feature AUC curve depends
    * only on coefficient activity and sign, both closed-form at the
    * fold train moments) and any divergence isolates the batched
    * screened CV: the union candidate set, the per-model fused
    * KKT/moment passes, and the active-only rank-chain scoring. */
  def cvIrlsLargeP(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val lambdas = Array(0.01, 0.003, 0.001, 5e-4, 2e-4, 5e-5)
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = graft.ml.LargeP.cvBinomial(li, Seq("l_quantity"), "is_r",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = lambdas,
        thresh = 1e-5),
      nfolds = 5, measure = "auc", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 6).as("lambda"),
        (round(col("cvm"), 6) + lit(0.0)).as("cvm"),
        (round(col("cvsd"), 6) + lit(0.0)).as("cvsd"))
      .orderBy("lambda_idx")
  }

  /** Cross-validation over type.measure="mae" (reference accepts mae for
    * every family; mae is NOT a moment form, so this exercises the
    * generic per-fold refit path). Same portable-fold 1-feature lasso as
    * [[cvExactFit]]: each fold's coefficients are the closed-form soft
    * threshold of train moments, and held-out MAE is a plain row
    * aggregation — DuckDB reproduces the whole curve (ln-encoded,
    * round 4, like the other fit oracles). */
  def cvMae(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val lmax = li.agg(
      (abs(covar_pop(col("l_quantity"), col("l_extendedprice"))) /
        sqrt(var_pop(col("l_quantity")))).as("lmax")).head().getDouble(0)
    val lambdas = Array.tabulate(10)(i => lmax * math.pow(0.01, i / 9.0))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fit(li, Seq("l_quantity"), Seq("l_extendedprice"),
      SgdNetParams(alpha = 1.0, lambda = lambdas, thresh = 1e-10),
      nfolds = 5, measure = "mae", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(log(col("lambda")), 4).as("ln_lambda"),
        round(log(col("cvm")), 4).as("ln_cvm"),
        round(log(col("cvsd")), 4).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** Oracle-exact MULTINOMIAL cross-validation — lights up the
    * shared-pass softmax CV route (`CvSgdNet.cvMultinomialShared`, the
    * default for every `family="multinomial"` CV call) end-to-end: ONE
    * FISTA step from the null point per fold (maxit = 1, the
    * [[multinomFit]] technique applied per fold on SUBTRACTED train
    * moments) with portable Knuth folds. Closed form per fold f: null
    * intercepts a0_t = ln(train prior_t) (where the softmax a0-gradient
    * vanishes), step = 1/(0.5*(1 + train corr(x1,x2)) + 1e-9) (power
    * iteration from [1,1] is exact on the 2x2 standardized Gram), and
    * b_tj = S(step * cov(xs_j, 1[y=t]), step*lam)/sd_j. The held-out
    * deviance -2 ln(clamp(softmax_t(eta))) is a plain row aggregation —
    * DuckDB reproduces cvm AND cvsd bit-for-bit. Converged multinomial
    * CV stays covered by CvSpec's shared-vs-generic parity test. */
  def cvMultinom(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fit(li, Seq("l_quantity", "l_discount"),
      Seq("l_returnflag"),
      SgdNetParams(family = "multinomial", alpha = 1.0,
        lambda = Array(0.001), maxit = 1),
      nfolds = 5, measure = "deviance", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 6).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** Multinomial CV with a CONSTANT per-class offset (round 16 —
    * `CvSgdNet.fitMultinomialWithOffset`, cv.glmnet's multinomial
    * offset): each fold's offset null is exactly ln(prior) − c (the
    * fold-tiled Newton converges at its start), the one-FISTA-step
    * trajectory shifts every intercept by −c_t, and the held-out
    * prediction adds the row's own offset back — so the scores are
    * BYTE-IDENTICAL to [[cvMultinom]]'s and the q_cv_multinom oracle
    * verifies this chassis verbatim; a divergence isolates the offset
    * CV machinery. The varying-offset regime is spec-anchored
    * (per-fold standalone refits, OffsetCvSpec). */
  def cvMultinomOffset(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("off_a", lit(0.4)).withColumn("off_n", lit(-0.2))
      .withColumn("off_r", lit(0.1))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitMultinomialWithOffset(li,
      Seq("l_quantity", "l_discount"), "l_returnflag",
      Seq("off_a", "off_n", "off_r"),
      SgdNetParams(family = "multinomial", alpha = 1.0,
        lambda = Array(0.001), maxit = 1),
      nfolds = 5, measure = "deviance", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 6).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** SPARSE multinomial offset CV (round 16 —
    * `CvSgdNet.fitSparseMultinomialWithOffset`): the
    * [[cvMultinomOffset]] constant-offset query verbatim over CSR
    * rows — same data, offsets, folds and lambda, so the oracle is
    * byte-identical to q_cv_multinom_offset (and to q_cv_multinom:
    * constant offsets cancel in the held-out scores); a divergence
    * isolates the sparse offset CV chassis. */
  def cvSparseMultinomOffset(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("off_a", lit(0.4)).withColumn("off_n", lit(-0.2))
      .withColumn("off_r", lit(0.1))
      .withColumn("sidx", array(lit(0), lit(1)))
      .withColumn("svals", array(col("l_quantity").cast("double"),
        col("l_discount").cast("double")))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitSparseMultinomialWithOffset(li, "sidx", "svals", 2,
      "l_returnflag", Seq("off_a", "off_n", "off_r"),
      SgdNetParams(family = "multinomial", alpha = 1.0,
        lambda = Array(0.001), maxit = 1),
      nfolds = 5, measure = "deviance", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 6).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** Oracle-exact MULTI-RESPONSE (mgaussian) cross-validation — lights
    * up the one-pass moment CV route (`CvSgdNet.cvMgaussianFromStats`)
    * end-to-end. With ONE feature the group coordinate update is a
    * closed form the oracle replicates exactly: standardized per-train
    * covariances c_t = (Sxy_t/n − mx·my_t)/sd, group norm
    * nrm = sqrt(c1² + c2²), β_std_t = c_t·(1 − λ/nrm)/gjj when
    * nrm > λ else 0 (lasso group soft-threshold; gjj is the
    * standardized Gram diagonal, ≈1 up to float), β_t = β_std_t/sd,
    * a0_t = my_t − β_t·mx. Held-out deviance (= mse summed across
    * responses) is a moment form on the fold's own statistics — DuckDB
    * reproduces cvm AND cvsd. Fixed λ grid; portable Knuth folds. */
  def cvMgauss(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fit(li, Seq("l_quantity"),
      Seq("l_extendedprice", "l_tax"),
      SgdNetParams(family = "mgaussian", alpha = 1.0,
        lambda = Array(512.0, 128.0, 32.0, 8.0, 2.0, 0.5)),
      nfolds = 5, measure = "deviance", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** Oracle-exact POISSON cross-validation — lights up the shared-pass
    * poisson IRLS CV route (`CvSgdNet.cvIrls`) end-to-end. At
    * a lambda far above every fold's standardized gradient the
    * coefficient stays zero and the intercept-only poisson MLE is the
    * closed form a0_f = ln(train ȳ_f) (the IRLS intercept update is a
    * fixed point there: constant mu means the weighted mean of z
    * returns a0 + (ȳ − mu)/mu ≈ a0 to the ulp — the q_poisson_null_fit
    * technique, per fold). Held-out deviance
    * 2[y ln(y/mu) − (y − mu)] is a plain row aggregation; DuckDB
    * reproduces cvm AND cvsd. Converged multi-feature poisson CV stays
    * covered by CvSpec's shared-vs-generic parity test. */
  def cvPoisson(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fit(li, Seq("l_discount"), Seq("l_quantity"),
      SgdNetParams(family = "poisson", alpha = 1.0, lambda = Array(10.0)),
      nfolds = 5, measure = "deviance", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** Cross-validation WITH a linear-predictor offset (round 16 —
    * cv.glmnet `offset`/`newoffset` over `CvSgdNet.fitWithOffset`):
    * the [[cvPoisson]] null-point discipline with a real exposure
    * offset ln(l_linenumber). At a lambda far above the
    * offset-corrected gradient the coefficient stays zero and each
    * fold's model is the exposure-weighted intercept-only MLE
    * a0_f = ln(Σ_train y / Σ_train e^off) — closed-form from
    * total-minus-fold sums — while the held-out deviance scores each
    * row at μ = exp(a0_f + off_i) (the newoffset semantics). DuckDB
    * reproduces cvm AND cvsd; the converged-coefficient regime is
    * spec-anchored (OffsetCvSpec: shared chassis == per-fold
    * standalone fitWithOffset refits). */
  def cvOffset(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("lexp", log(col("l_linenumber").cast("double")))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitWithOffset(li, Seq("l_discount"), "l_quantity",
      "lexp", SgdNetParams(family = "poisson", alpha = 1.0,
        lambda = Array(10.0)),
      nfolds = 5, measure = "deviance", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** SPARSE offset CV (round 16 — `CvSgdNet.fitSparseWithOffset`, the
    * last sparse × offset × CV composition cell): the [[cvOffset]]
    * poisson exposure query verbatim through the uncentered
    * sparse-moment offset chassis — same data, offset, folds and
    * lambda, so the oracle is byte-identical to q_cv_offset and any
    * divergence isolates the sparse offset chassis. */
  def cvSparseOffset(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("lexp", log(col("l_linenumber").cast("double")))
      .withColumn("sidx", array(lit(0)))
      .withColumn("svals", array(col("l_discount").cast("double")))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitSparseWithOffset(li, "sidx", "svals", 1,
      "l_quantity", "lexp", SgdNetParams(family = "poisson", alpha = 1.0,
        lambda = Array(10.0)),
      nfolds = 5, measure = "deviance", foldCol = fold)
    cv.curveDF(spark)
      .select(col("lambda_idx").cast("int").as("lambda_idx"),
        round(col("lambda"), 4).as("lambda"),
        round(log(col("cvm")), 6).as("ln_cvm"),
        round(log(col("cvsd")), 6).as("ln_cvsd"))
      .orderBy("lambda_idx")
  }

  /** predict.cv_sgdnet with `newoffset` AND sparse newx (round 18 —
    * the glmnet predict.cv.glmnet composition hooks,
    * `CvResult.predictAt(offsetCols, idxCol/valCol)` delegating to
    * `SgdNetModel.predColFor`): a gaussian offset CV on a
    * single-point ridge grid (lambda.min IS the grid point), scored
    * back through predictAt with each row's own offset — pred =
    * a0 + b·x + off where (a0, b) is the 1-feature ridge closed form
    * on y − off (the q_gauss_ridge1 shrink on offset-adjusted
    * moments). The same rows ALSO go through the sparse (indices,
    * values) route + offset, emitted as a second column the oracle
    * writes identically — a dropped offset or dense/sparse divergence
    * fails the hash. Converged multi-lambda selection is spec-anchored
    * (OffsetCvSpec round-18 parity rows). */
  def cvPredictOffset(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("lexp", log(col("l_linenumber").cast("double")))
    val fold = pmod(graft.ops.Sampling.hashBucket(
      col("l_orderkey") * 100 + col("l_linenumber")), lit(5))
    val cv = CvSgdNet.fitWithOffset(li, Seq("l_quantity"),
      "l_extendedprice", "lexp",
      SgdNetParams(alpha = 0.0, lambda = Array(2.5), thresh = 1e-11,
        maxit = 100000),
      nfolds = 5, measure = "mse", foldCol = fold)
    val sp = li.filter(col("l_orderkey") <= 5)
      .withColumn("sidx", array(lit(0)))
      .withColumn("svals", array(col("l_quantity").cast("double")))
    val dense = cv.predictAt(sp, "lambda.min", "link",
        offsetCols = Seq("lexp"))
      .withColumnRenamed("pred", "pred_dense")
    cv.predictAt(dense, "lambda.min", "link", offsetCols = Seq("lexp"),
        idxCol = "sidx", valCol = "svals")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("pred_dense"), 4).as("pred"),
        round(col("pred"), 4).as("pred_sparse"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** lambda.min / lambda.1se selection on the [[cvRidgeFit]] chain —
    * oracle-exact (the fixed grid makes both selections SQL-computable). */
  def cvSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cv = cvRidgeFit(spark, dir)
    Seq((cv.best.alpha, cv.best.lambdaMin, cv.best.lambda1se))
      .toDF("alpha", "lambda_min", "lambda_1se")
      .select((round(col("alpha"), 4) + lit(0.0)).as("alpha"),
        round(col("lambda_min"), 4).as("lambda_min"),
        round(col("lambda_1se"), 4).as("lambda_1se"))
  }

  /** predict.cv_sgdnet at lambda.min on the [[cvRidgeFit]] chain:
    * lambda.min is a path point, so the coefficients are the closed-form
    * full-data ridge solve at the selected lambda — the whole
    * select-then-predict chain verifies against DuckDB. */
  def cvPredict(spark: SparkSession, dir: String): DataFrame = {
    val cv = cvRidgeFit(spark, dir)
    cv.predictAt(tbl(spark, dir, "lineitem").filter(col("l_orderkey") <= 5),
        "lambda.min")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("pred"), 2).as("pred"))
      .orderBy("l_orderkey", "l_linenumber")
  }
}
