package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ml._

/** Declared queries exercising the graft.ml surface (SURVEY.md §2).
  * Each returns a small deterministic DataFrame; floating-point outputs
  * are rounded to 6 dp to match the DuckDB oracles bit-for-bit.
  */
object MlQueries {

  // NOTE (optimization round 18): a blanket Spread.thin here was
  // measured NET-NEGATIVE (mini-bench min-of-3: q_tfidf 2.6x,
  // q_token_count 1.9x, q_bm25 1.9x slower) — the extra exchange plus
  // 32-task stages cost more than parallelism buys on sub-second
  // queries. Spreading lives at the CPU-heavy kernel entries instead
  // (see graft.ops.Spread).
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private val DP = 4  // coarse grid: cross-engine FP-safe

  /** (term, value) frame from a fitted model at one path point. */
  def coefFrame(spark: SparkSession, m: SgdNetModel, l: Int, resp: Int = 0): DataFrame = {
    import spark.implicits._
    val rows = ("a0", m.a0(l)(resp)) +:
      m.featureNames.toSeq.zipWithIndex.map { case (f, j) => (f, m.beta(l)(resp)(j)) }
    rows.toDF("term", "value")
      .withColumn("value", round(col("value"), DP) + lit(0.0)) // normalize -0.0
      .orderBy("term")
  }

  // -- gaussian fits with closed-form oracles --------------------------------

  /** OLS, 1 feature (lambda=0). */
  def gaussOls1(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(0.0), thresh = 1e-9))
    coefFrame(spark, m, 0)
  }

  /** Ridge, 1 feature, fixed lambda=2.5 (closed form on standardized scale). */
  def gaussRidge1(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 0.0, lambda = Array(2.5), thresh = 1e-9))
    coefFrame(spark, m, 0)
  }

  /** Ridge in sgdnetCompat mode: the REFERENCE's implemented penalty
    * construction (L2 scaled by 1/sd_pop(y), sgdnet src/utils.h:170-180;
    * replays its manual ridge test, tests/testthat/test-gaussian.R:45-60)
    * — closed form beta = cxy / (vx * (1 + lambda / sd_y)). */
  def gaussRidgeCompat(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 0.0, lambda = Array(2.5), thresh = 1e-9,
        sgdnetCompat = true))
    coefFrame(spark, m, 0)
  }

  /** Lasso, 1 feature, fixed lambda=1.0 (soft-threshold closed form). */
  def gaussLasso1(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(1.0), thresh = 1e-9))
    coefFrame(spark, m, 0)
  }

  /** OLS, 3 features (oracle: Cramer's rule on the covariance system). */
  def gaussOls3(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(0.0), thresh = 1e-11, maxit = 100000))
    coefFrame(spark, m, 0)
  }

  /** Ridge, 3 features, lambda=0.5 (oracle: Cramer on correlation+lambda). */
  def gaussRidge3(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice",
      SgdNetParams(alpha = 0.0, lambda = Array(0.5), thresh = 1e-11, maxit = 100000))
    coefFrame(spark, m, 0)
  }

  /** Ridge with glmnet penalty.factor [0, 1, 2]: quantity unpenalized,
    * tax shrunk twice as hard as discount — closed-form oracle is the
    * ridge-3 Cramer solve with the per-feature diagonal. */
  def penaltyFactorRidge(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity", "l_discount", "l_tax"),
      "l_extendedprice",
      SgdNetParams(alpha = 0.0, lambda = Array(0.5), thresh = 1e-11,
        maxit = 100000, penaltyFactor = Array(0.0, 1.0, 2.0)))
    coefFrame(spark, m, 0)
  }

  /** Observation-weighted ridge (glmnet weights), weight =
    * l_linenumber — closed-form weighted-moment oracle. */
  def weightedRidge(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fitWeighted(li, Seq("l_quantity"), "l_extendedprice",
      "l_linenumber",
      SgdNetParams(alpha = 0.0, lambda = Array(2.5), thresh = 1e-11,
        maxit = 100000))
    coefFrame(spark, m, 0)
  }

  /** Weighted BINOMIAL fit (glmnet weights, family="binomial") verified
    * end-to-end against the closed form: at lambda large enough to zero
    * the coefficient, the weighted IRLS must land EXACTLY on the
    * intercept-only weighted logistic MLE a0 = logit(sum(w y)/sum(w)) —
    * the q_binom_null_fit technique through the `SgdNet.fitWeighted` route
    * (one treeAggregate of v-weighted IRLS moments per Newton step). */
  def weightedBinom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val m = SgdNet.fitWeighted(li, Seq("l_quantity"), "is_r", "l_linenumber",
      SgdNetParams(family = "binomial", alpha = 1.0, lambda = Array(1e6),
        thresh = 1e-9, maxit = 10000))
    Seq(("a0", m.a0(0)(0)), ("l_quantity", m.beta(0)(0)(0)))
      .toDF("term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("term")
  }

  /** Weighted POISSON fit (glmnet weights, family="poisson"), same
    * construction as [[weightedBinom]]: the intercept-only weighted
    * poisson MLE is a0 = ln(sum(w y)/sum(w)). */
  def weightedPoisson(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fitWeighted(li, Seq("l_discount"), "l_quantity",
      "l_linenumber",
      SgdNetParams(family = "poisson", alpha = 1.0, lambda = Array(1e6),
        thresh = 1e-9, maxit = 10000))
    Seq(("a0", m.a0(0)(0)), ("l_discount", m.beta(0)(0)(0)))
      .toDF("term", "value")
      .withColumn("value", round(col("value"), 6) + lit(0.0))
      .orderBy("term")
  }

  /** Weighted MULTI-RESPONSE ridge (glmnet weights with
    * family="mgaussian"): at alpha = 0 the group penalty decouples per
    * response, so each coefficient is the weighted-moment ridge closed
    * form — the q_weighted_fit oracle per response. */
  def weightedMgauss(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fitWeightedMulti(li, Seq("l_quantity"),
      Seq("l_extendedprice", "l_tax"), "l_linenumber",
      SgdNetParams(family = "mgaussian", alpha = 0.0, lambda = Array(2.5),
        thresh = 1e-11, maxit = 100000))
    val rows = for {
      t <- 0 until 2
      (term, v, dp) <- Seq(("a0", m.a0(0)(t), 4), ("l_quantity", m.beta(0)(t)(0), 8))
    } yield (m.responseNames(t), term,
      BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    rows.toDF("response", "term", "value").orderBy("response", "term")
  }

  /** Weighted MULTINOMIAL lasso (glmnet weights with
    * family="multinomial", round 15): ONE FISTA step from the null
    * point — the q_multinom_fit closed form with every moment
    * v-WEIGHTED (weighted means/sds/correlation/priors/covariances;
    * Lipschitz step from the weighted standardized 2×2 gram via the
    * engine's power iteration, which starting from (1,1) yields
    * 1 + r_w regardless of sign — the q_multinom_fit oracle
    * convention; gradA0 at the weighted-prior null is exactly 0, so
    * a0 stays ln(p̄_w) on the standardized scale). */
  def weightedMultinom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fitWeighted(li, Seq("l_quantity", "l_discount"),
      "l_returnflag", "l_linenumber",
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

  /** Gaussian ridge with a linear-predictor OFFSET (glmnet offset):
    * fitting y with offset o is exactly the ridge fit of y − o. */
  def offsetRidge(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
      .withColumn("off", col("l_tax") * lit(1000))
    val m = SgdNet.fitWithOffset(li, Seq("l_quantity"), "l_extendedprice",
      "off", SgdNetParams(alpha = 0.0, lambda = Array(2.5), thresh = 1e-11,
        maxit = 100000))
    coefFrame(spark, m, 0)
  }

  /** No-intercept, no-standardize OLS (beta = sum(xy)/sum(xx)). */
  def gaussNoInt(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(0.0), thresh = 1e-9,
        standardize = false, intercept = false))
    coefFrame(spark, m, 0)
  }

  /** Automatic lambda path (nlambda=20, alpha=1) on 3 features. */
  def lambdaPath(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, nlambda = 20))
    m.lambda.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("idx", "lambda")
      .withColumn("lambda", round(log(col("lambda")), 4))
      .orderBy("idx")
  }

  /** Gaussian null deviance = n * var_pop(y). */
  def gaussNullDev(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(lambda = Array(0.0)))
    Seq(m.nulldev).toDF("nulldev")
      .withColumn("nulldev", round(log(col("nulldev")), 4))
  }

  /** dev.ratio of the 1-feature OLS == squared Pearson correlation. */
  def devRatioQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(0.0), thresh = 1e-9))
    Seq(m.devRatio(0)).toDF("dev_ratio")
      .withColumn("dev_ratio", round(col("dev_ratio"), 6))
  }

  /** Standardizer output: per-feature mean and population sd. */
  def standardizeQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val cols = Seq("l_quantity", "l_discount", "l_tax")
    val rdd = SufficientStats.toRdd(li, cols, Seq("l_extendedprice"))
    val st = SufficientStats.standardize(
      SufficientStats.compute(rdd, cols.size, 1), standardizeX = true, intercept = true)
    cols.zipWithIndex.map { case (c, j) => (c, st.xMean(j), st.xSd(j)) }
      .toDF("term", "mean", "sd")
      .withColumn("mean", round(col("mean"), 6))
      .withColumn("sd", round(col("sd"), 6))
      .orderBy("term")
  }

  /** predict(type="link") for the 1-feature OLS on a deterministic subset. */
  def predictLink(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(0.0), thresh = 1e-9))
    li.filter(col("l_orderkey") <= 10)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(m.linkCol(0), 2).as("pred"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** predict at an OFF-PATH penalty (reference predict(fit, s = ...)):
    * a 2-point ridge path at lambda {8, 2}, scored at s = 4 — the
    * coefficients are the linear interpolation of the adjacent path
    * points ([[graft.ml.SgdNetModel.atLambda]]), and both ridge fits
    * are closed form, so the interpolated predictions verify
    * hash-exact. */
  def predictInterp(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 0.0, lambda = Array(8.0, 2.0), thresh = 1e-9))
    val (a0v, betaV) = m.atLambda(4.0)
    li.filter(col("l_orderkey") <= 10)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(m.linkColFor(a0v(0), betaV(0)), 2).as("pred"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** score at an OFF-PATH penalty (reference score(fit, ..., s = ...)):
    * held-in MSE of the same interpolated model as [[predictInterp]]. */
  def scoreInterp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 0.0, lambda = Array(8.0, 2.0), thresh = 1e-9))
    Seq(m.scoreAt(li, "mse", 4.0)).toDF("mse")
      .withColumn("mse", round(log(col("mse")), 4))
  }

  /** Sparse fit + sparse PREDICT (reference dgCMatrix x / newx,
    * R/sgdnet.R:224-228): CSR (indices, values) rows where odd line
    * numbers carry NO entries (implicit zero) — fit and score without
    * ever densifying. Dense-equivalence makes the oracle exact: the
    * sparse rows are the dense column with zeros. */
  def predictSparseQ(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val sp = li.select(col("l_orderkey"), col("l_linenumber"),
      when(col("l_linenumber") % 2 === 1, array().cast("array<int>"))
        .otherwise(array(lit(0))).as("idx"),
      when(col("l_linenumber") % 2 === 1, array().cast("array<double>"))
        .otherwise(array(col("l_quantity").cast("double"))).as("v"),
      col("l_extendedprice"))
    val m = SgdNet.fitSparse(sp, "idx", "v", dim = 1, "l_extendedprice",
      SgdNetParams(alpha = 0.0, lambda = Array(2.0), thresh = 1e-9))
    m.predictSparse(sp.filter(col("l_orderkey") <= 10), "idx", "v",
        "link", Seq(0))
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("pred_0"), 2).as("pred"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** predict(exact = TRUE) / update() refit (reference R/utils.R refit):
    * extra lambda 4 merges into the {8, 2} path and the model refits
    * over {8, 4, 2} — each point closed-form ridge, so the refit path
    * verifies hash-exact. */
  def refitExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m0 = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 0.0, lambda = Array(8.0, 2.0), thresh = 1e-9))
    val m = SgdNet.refit(m0, li, Seq(4.0))
    m.lambda.indices.map(l => (l, m.lambda(l), m.a0(l)(0), m.beta(l)(0)(0)))
      .toDF("lambda_idx", "lambda", "a0", "b")
      .select(col("lambda_idx"), round(col("lambda"), 4).as("lambda"),
        (round(col("a0"), 4) + lit(0.0)).as("a0"),
        (round(col("b"), 6) + lit(0.0)).as("b"))
      .orderBy("lambda_idx")
  }

  /** score(type.measure="mse") of the 1-feature OLS over the full table. */
  def scoreMse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(0.0), thresh = 1e-9))
    val mse = li.agg(avg(pow(col("l_extendedprice") - m.linkCol(0), 2))).head().getDouble(0)
    Seq(mse).toDF("mse").withColumn("mse", round(log(col("mse")), 4))
  }

  /** score(type.measure="mae") of the 1-feature OLS over the full table. */
  def scoreMae(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(0.0), thresh = 1e-9))
    val mae = li.agg(avg(abs(col("l_extendedprice") - m.linkCol(0)))).head().getDouble(0)
    Seq(mae).toDF("mae").withColumn("mae", round(log(col("mae")), 4))
  }

  /** Distributed rank-statistic AUC of l_quantity as a score for
    * l_returnflag = 'R' (oracle: the same Mann–Whitney formula in SQL). */
  def scoreAuc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .select(col("l_quantity").as("s"),
        (col("l_returnflag") === "R").cast("double").as("y"))
    Seq(SgdNetModel.aucOf(li, "s", "y")).toDF("auc")
      .withColumn("auc", round(col("auc"), 6))
  }

  /** Binomial null deviance: -2n [p log p + (1-p) log(1-p)], p = mean(y). */
  def binomNullDev(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
      .withColumn("is_r", (col("l_returnflag") === "R").cast("int"))
    val m = SgdNet.fit(li, Seq("l_quantity"), "is_r",
      SgdNetParams(family = "binomial", lambda = Array(1e6), maxit = 5))
    Seq(m.nulldev).toDF("nulldev").withColumn("nulldev", round(col("nulldev"), 4))
  }

  /** Per-row gaussian deviance residuals of the 1-feature OLS fit —
    * the residuals(fit) surface; binomial/poisson forms are
    * spec-verified against the model deviance. */
  def devResid(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(0.0), thresh = 1e-9))
    li.filter(col("l_orderkey") <= 5)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(m.devResidCol(col("l_extendedprice"), 0), 2).as("dev_resid"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Relaxed lasso (glmnet relax=TRUE shape), 1 feature, explicit
    * 2-lambda path: lambda 1e12 zeroes the coefficient (empty active
    * set → intercept-only refit), lambda 1.0 reproduces the
    * q_gauss_lasso1 fit whose active-set OLS refit is the plain
    * 1-feature OLS — both closed-form for the oracle. γ = 0.5 blend. */
  def relaxedLasso(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val rp = SgdNet.relaxedFit(li, Seq("l_quantity"), "l_extendedprice",
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
      .withColumn("lasso", round(col("lasso"), DP) + lit(0.0))
      .withColumn("ols", round(col("ols"), DP) + lit(0.0))
      .withColumn("relaxed", round(col("relaxed"), DP) + lit(0.0))
      .orderBy("lambda_idx", "term")
  }

  /** Box-constrained fit (glmnet lower.limits): non-negative OLS on
    * (quantity, tax) — the unconstrained tax coefficient is negative
    * on this data, so the constraint BINDS and the solution lands on
    * the b_tax = 0 face (oracle: feasible active-set enumeration). */
  def coefLimits(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val m = SgdNet.fit(li, Seq("l_quantity", "l_tax"), "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(0.0), thresh = 1e-11,
        maxit = 100000, lowerLimits = Array(0.0, 0.0)))
    coefFrame(spark, m, 0)
  }

  /** glmnet `exclude` via [[SgdNet.excludeLimits]]: a 3-feature OLS
    * with l_discount forced out — exactly the 2-feature OLS on the
    * remaining columns (oracle: 2×2 Cramer + a literal zero row). */
  def excludeFit(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val (lo, up) = SgdNet.excludeLimits(3, Seq(1))
    val m = SgdNet.fit(li, Seq("l_quantity", "l_discount", "l_tax"),
      "l_extendedprice",
      SgdNetParams(alpha = 1.0, lambda = Array(0.0), thresh = 1e-11,
        maxit = 100000, lowerLimits = lo, upperLimits = up))
    coefFrame(spark, m, 0)
  }
}
