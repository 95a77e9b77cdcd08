package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PoissonSpec extends SparkSpec {
  import spark.implicits._

  private def countDF = {
    val rnd = new scala.util.Random(21)
    (1 to 600).map { _ =>
      val x1 = rnd.nextGaussian() * 0.5
      val x2 = rnd.nextGaussian() * 0.5
      val mu = math.exp(0.5 + 0.8 * x1 - 0.6 * x2)
      // poisson sampling via inversion
      var k = 0; var p = math.exp(-mu); var f = p; val u = rnd.nextDouble()
      while (f < u && k < 1000) { k += 1; p *= mu / k; f += p }
      (x1, x2, k.toDouble)
    }.toDF("x1", "x2", "y")
  }

  test("unpenalized poisson MLE matches spark.ml GeneralizedLinearRegression") {
    val df = countDF
    val m = SgdNet.fit(df, Seq("x1", "x2"), "y",
      SgdNetParams(family = "poisson", lambda = Array(0.0), thresh = 1e-9,
        maxit = 100000))
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.GeneralizedLinearRegression
    val va = new VectorAssembler().setInputCols(Array("x1", "x2")).setOutputCol("f")
    val glr = new GeneralizedLinearRegression()
      .setFamily("poisson").setLink("log").setFeaturesCol("f").setLabelCol("y")
      .setRegParam(0.0).setMaxIter(100).setTol(1e-12)
      .fit(va.transform(df))
    for (j <- 0 until 2)
      assert(math.abs(m.beta(0)(0)(j) - glr.coefficients(j)) < 1e-6,
        s"beta_$j: ${m.beta(0)(0)(j)} vs ${glr.coefficients(j)}")
    assert(math.abs(m.a0(0)(0) - glr.intercept) < 1e-6)
  }

  test("poisson path: lambda_max zeroes coefficients; deviance ratio grows") {
    val df = countDF
    val m = SgdNet.fit(df, Seq("x1", "x2"), "y",
      SgdNetParams(family = "poisson", alpha = 1.0, nlambda = 8))
    // IRLS recomputes the weighted moments on a different FP path than the
    // lambda_max construction, so coefficients at lambda_max are ~1e-16
    // rather than exact zeros (the reference's own test asserts zeros only
    // for lambda STRICTLY above lambda_max, test-gaussian.R:17)
    assert(m.beta(0)(0).forall(b => math.abs(b) < 1e-9), "null model at lambda_max")
    assert(m.devRatio.last > m.devRatio.head)
    assert(m.nulldev > 0)
    // every ratio lies in [0, 1], round-off at lambda_max included
    assert(m.devRatio.forall(r => r >= 0.0 && r <= 1.0),
      s"devRatio outside [0, 1]: ${m.devRatio.mkString(", ")}")
    // response prediction is exp(link) and nonnegative
    val preds = df.select(m.responseCol(m.nLambda - 1)).collect()
    assert(preds.forall(_.getDouble(0) > 0))
  }

  test("poisson lasso satisfies KKT at the solution") {
    val df = countDF
    val lam = 0.05
    val m = SgdNet.fit(df, Seq("x1", "x2"), "y",
      SgdNetParams(family = "poisson", alpha = 1.0, lambda = Array(lam),
        thresh = 1e-9, maxit = 100000))
    // gradient of the poisson NLL at the solution, standardized scale
    val st = {
      val rdd = SufficientStats.toRdd(df, Seq("x1", "x2"), Seq("y"))
      SufficientStats.standardize(SufficientStats.compute(rdd, 2, 1),
        standardizeX = true, intercept = true)
    }
    val rows = df.select("x1", "x2", "y").as[(Double, Double, Double)].collect()
    val n = rows.length.toDouble
    val bstd = Array.tabulate(2)(j => m.beta(0)(0)(j) * st.xSd(j))
    val a0s = m.a0(0)(0) + (0 until 2).map(j => m.beta(0)(0)(j) * st.xMean(j)).sum
    val grad = Array.ofDim[Double](2)
    rows.foreach { case (x1, x2, y) =>
      val xs = Array((x1 - st.xMean(0)) / st.xSd(0), (x2 - st.xMean(1)) / st.xSd(1))
      val mu = math.exp(a0s + xs(0) * bstd(0) + xs(1) * bstd(1))
      for (j <- 0 until 2) grad(j) += (mu - y) * xs(j) / n
    }
    for (j <- 0 until 2) {
      if (bstd(j) == 0.0) assert(math.abs(grad(j)) <= lam + 1e-6)
      else assert(math.abs(grad(j) + lam * math.signum(bstd(j))) < 1e-6,
        s"poisson KKT j=$j grad=${grad(j)}")
    }
  }

  test("poisson offset: zero = plain fit, constant shifts a0, exposure recovers the rate model") {
    import org.apache.spark.sql.functions._
    val df = countDF
    val p0 = SgdNet.fit(df, Seq("x1", "x2"), "y",
      SgdNetParams(family = "poisson", lambda = Array(0.01), thresh = 1e-9))
    val o0 = SgdNet.fitWithOffset(df.withColumn("off", lit(0.0)),
      Seq("x1", "x2"), "y", "off",
      SgdNetParams(family = "poisson", lambda = Array(0.01), thresh = 1e-9))
    for (j <- 0 until 2)
      assert(math.abs(p0.beta(0)(0)(j) - o0.beta(0)(0)(j)) < 1e-8)
    assert(math.abs(p0.a0(0)(0) - o0.a0(0)(0)) < 1e-8)
    assert(math.abs(p0.nulldev - o0.nulldev) < 1e-6 * p0.nulldev)
    // constant offset c: identical slopes, intercept shifted by −c
    val oc = SgdNet.fitWithOffset(df.withColumn("off", lit(0.7)),
      Seq("x1", "x2"), "y", "off",
      SgdNetParams(family = "poisson", lambda = Array(0.01), thresh = 1e-9))
    for (j <- 0 until 2)
      assert(math.abs(oc.beta(0)(0)(j) - p0.beta(0)(0)(j)) < 1e-7)
    assert(math.abs(oc.a0(0)(0) - (p0.a0(0)(0) - 0.7)) < 1e-7,
      s"${oc.a0(0)(0)} vs ${p0.a0(0)(0) - 0.7}")
    // exposure model: y = exposure · exp(0.2 + 0.5 x) exactly — the
    // unpenalized fit with offset = ln(exposure) recovers (0.2, 0.5)
    val rnd = new scala.util.Random(3)
    val exp0 = (1 to 400).map { i =>
      val x = rnd.nextGaussian()
      val expo = 1.0 + (i % 5)
      (x, math.log(expo), expo * math.exp(0.2 + 0.5 * x))
    }.toDF("x", "off", "y")
    val mr = SgdNet.fitWithOffset(exp0, Seq("x"), "y", "off",
      SgdNetParams(family = "poisson", lambda = Array(0.0), thresh = 1e-10,
        maxit = 100000))
    assert(math.abs(mr.a0(0)(0) - 0.2) < 1e-5, mr.a0(0)(0).toString)
    assert(math.abs(mr.beta(0)(0)(0) - 0.5) < 1e-5, mr.beta(0)(0)(0).toString)
    // unsupported family rejects
    intercept[IllegalArgumentException] {
      SgdNet.fitWithOffset(df.withColumn("off", lit(0.0)), Seq("x1"), "y",
        "off", SgdNetParams(family = "binomial"))
    }
  }
}
