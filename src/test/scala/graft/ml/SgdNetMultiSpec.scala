package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multinomial + mgaussian family specs. */
class SgdNetMultiSpec extends SparkSpec {

  test("multinomial matches spark.ml softmax regression") {
    // pre-standardize; standardization=false on both sides (see binomial spec)
    val raw = SparkSpec.multiclassDF(spark)
    val st = raw.agg(avg("x1"), stddev_pop("x1"), avg("x2"), stddev_pop("x2")).head
    val df = raw
      .withColumn("z1", (col("x1") - st.getDouble(0)) / st.getDouble(1))
      .withColumn("z2", (col("x2") - st.getDouble(2)) / st.getDouble(3))
      .withColumn("lbl", expr("cast(substring(cls, 2, 1) as double)"))
    val lam = 0.05
    val m = SgdNet.fit(df, Seq("z1", "z2"), "cls",
      SgdNetParams(family = "multinomial", alpha = 0.0, lambda = Array(lam),
        standardize = false, thresh = 1e-7, maxit = 5000))
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.classification.LogisticRegression
    val va = new VectorAssembler().setInputCols(Array("z1", "z2")).setOutputCol("f")
    val ml = new LogisticRegression().setFeaturesCol("f").setLabelCol("lbl")
      .setFamily("multinomial").setRegParam(lam).setElasticNetParam(0.0)
      .setStandardization(false).setMaxIter(100000).setTol(1e-15)
      .fit(va.transform(df))
    // softmax parameters are identified only up to a constant shift per
    // feature; compare CENTERED coefficient matrices.
    val mlMat = ml.coefficientMatrix
    for (j <- 0 until 2) {
      val mineC = (0 until 3).map(t => m.beta(0)(t)(j))
      val mlC = (0 until 3).map(t => mlMat(t, j))
      val mineCtr = mineC.map(_ - mineC.sum / 3)
      val mlCtr = mlC.map(_ - mlC.sum / 3)
      for (t <- 0 until 3)
        assert(math.abs(mineCtr(t) - mlCtr(t)) < 5e-4,
          s"feature $j class $t: ${mineCtr(t)} vs ${mlCtr(t)}")
    }
    // class predictions should agree with spark.ml on nearly all rows
    val mlPred = ml.transform(va.transform(df)).select(col("z1"), col("z2"),
      concat(lit("c"), col("prediction").cast("int")).as("ml_pc"))
    val agree = mlPred.withColumn("pc", m.classCol(0))
      .agg(avg((col("pc") === col("ml_pc")).cast("int"))).head.getDouble(0)
    assert(agree > 0.99, s"agreement with spark.ml predictions: $agree")
  }

  test("multinomial class ordering and response probabilities sum to 1") {
    val df = SparkSpec.multiclassDF(spark)
    val m = SgdNet.fit(df, Seq("x1", "x2"), "cls",
      SgdNetParams(family = "multinomial", lambda = Array(0.01), thresh = 1e-5))
    assert(m.classLabels.toSeq == Seq("c0", "c1", "c2"))
    val probs = df.limit(50).select(
      (0 until 3).map(t => m.responseCol(0, t).as(s"p$t")): _*).collect()
    probs.foreach { r =>
      val s = (0 until 3).map(r.getDouble).sum
      assert(math.abs(s - 1.0) < 1e-9)
    }
  }

  test("mgaussian with lambda=0 equals per-response OLS") {
    import spark.implicits._
    val df = SparkSpec.regressionDF(spark)
      .withColumn("y2", col("y") * 2.0 + col("x3") - 1.0)
    val m = SgdNet.fitMulti(df, Seq("x1", "x2", "x3"), Seq("y", "y2"),
      SgdNetParams(family = "mgaussian", lambda = Array(0.0),
        thresh = 1e-11, maxit = 100000))
    val m1 = SgdNet.fit(df, Seq("x1", "x2", "x3"), "y",
      SgdNetParams(lambda = Array(0.0), thresh = 1e-11, maxit = 100000))
    val m2 = SgdNet.fit(df, Seq("x1", "x2", "x3"), "y2",
      SgdNetParams(lambda = Array(0.0), thresh = 1e-11, maxit = 100000))
    for (j <- 0 until 3) {
      assert(math.abs(m.beta(0)(0)(j) - m1.beta(0)(0)(j)) < 1e-7)
      assert(math.abs(m.beta(0)(1)(j) - m2.beta(0)(0)(j)) < 1e-7)
    }
    assert(math.abs(m.a0(0)(0) - m1.a0(0)(0)) < 1e-7)
    assert(math.abs(m.a0(0)(1) - m2.a0(0)(0)) < 1e-7)
  }

  test("mgaussian group lasso satisfies group KKT and zeroes rows jointly") {
    val df = SparkSpec.regressionDF(spark)
      .withColumn("y2", col("y") * 0.5 + col("x1"))
    val lam = 0.5
    val m = SgdNet.fitMulti(df, Seq("x1", "x2", "x3"), Seq("y", "y2"),
      SgdNetParams(family = "mgaussian", alpha = 1.0, lambda = Array(lam),
        thresh = 1e-11, maxit = 100000))
    // group structure: a feature is zero for BOTH responses or neither
    for (j <- 0 until 3) {
      val z1 = m.beta(0)(0)(j) == 0.0
      val z2 = m.beta(0)(1)(j) == 0.0
      assert(z1 == z2, s"group sparsity violated at feature $j")
    }
    // KKT on standardized scale: ||grad_j|| <= lam for zero groups
    val rdd = SufficientStats.toRdd(df, Seq("x1", "x2", "x3"), Seq("y", "y2"))
    val st = SufficientStats.standardize(
      SufficientStats.compute(rdd, 3, 2), standardizeX = true, intercept = true)
    val bstd = Array.tabulate(2, 3)((t, j) => m.beta(0)(t)(j) * st.xSd(j))
    for (j <- 0 until 3) {
      val grad = Array.tabulate(2)(t =>
        (0 until 3).map(k2 => st.gram(j)(k2) * bstd(t)(k2)).sum - st.b(t)(j))
      val nrm = math.sqrt(grad.map(g => g * g).sum)
      if (bstd(0)(j) == 0.0 && bstd(1)(j) == 0.0)
        assert(nrm <= lam + 1e-6, s"zero-group KKT at $j: $nrm > $lam")
      else {
        // grad + lam * beta_j/||beta_j|| = 0
        val bn = math.sqrt(bstd(0)(j) * bstd(0)(j) + bstd(1)(j) * bstd(1)(j))
        for (t <- 0 until 2)
          assert(math.abs(grad(t) + lam * bstd(t)(j) / bn) < 1e-6, s"active-group KKT at $j")
      }
    }
  }

  test("grouped multinomial zeroes features jointly across classes") {
    val df = SparkSpec.multiclassDF(spark)
      .withColumn("noise", rand(7) * 0.01) // near-irrelevant feature
    val m = SgdNet.fit(df, Seq("x1", "x2", "noise"), "cls",
      SgdNetParams(family = "multinomial", alpha = 1.0, nlambda = 6,
        typeMultinomial = "grouped", thresh = 1e-6, maxit = 2000))
    // group structure at every path point: a feature is zero for ALL
    // classes or none
    for (l <- 0 until m.nLambda; j <- 0 until 3) {
      val zeros = (0 until 3).count(t => m.beta(l)(t)(j) == 0.0)
      assert(zeros == 0 || zeros == 3,
        s"grouped sparsity violated at lambda $l feature $j ($zeros/3 zero)")
    }
    // every ratio lies in [0, 1], round-off at lambda_max included
    assert(m.devRatio.forall(r => r >= 0.0 && r <= 1.0),
      s"devRatio outside [0, 1]: ${m.devRatio.mkString(", ")}")
    // informative features enter before the noise feature
    val firstEntry = (j: Int) => m.beta.indexWhere(bl => bl.exists(bt => bt(j) != 0.0)) match {
      case -1 => Int.MaxValue
      case i  => i
    }
    assert(firstEntry(0) <= firstEntry(2) && firstEntry(1) <= firstEntry(2),
      s"entries: x1=${firstEntry(0)} x2=${firstEntry(1)} noise=${firstEntry(2)}")
  }

  test("standardize.response scales and unscales consistently") {
    val df = SparkSpec.regressionDF(spark)
      .withColumn("y2", col("y") * 100.0) // wildly different scale
    // with standardize.response, per-response penalties act on comparable
    // scales; with lambda=0 the fits must still be exact OLS
    val m = SgdNet.fitMulti(df, Seq("x1", "x2"), Seq("y", "y2"),
      SgdNetParams(family = "mgaussian", lambda = Array(0.0),
        standardizeResponse = true, thresh = 1e-11, maxit = 100000))
    val m1 = SgdNet.fit(df, Seq("x1", "x2"), "y",
      SgdNetParams(lambda = Array(0.0), thresh = 1e-11, maxit = 100000))
    for (j <- 0 until 2) {
      assert(math.abs(m.beta(0)(0)(j) - m1.beta(0)(0)(j)) < 1e-7)
      assert(math.abs(m.beta(0)(1)(j) - 100.0 * m1.beta(0)(0)(j)) < 1e-4)
    }
    // dev.ratio must compare rss and nulldev on ONE scale: with y2=100*y
    // both responses explain the same variance fraction, so the joint
    // dev.ratio equals the single-response one (and stays in [0, 1])
    assert(m.devRatio(0) >= 0 && m.devRatio(0) <= 1,
      s"devRatio out of range: ${m.devRatio(0)}")
    assert(math.abs(m.devRatio(0) - m1.devRatio(0)) < 1e-6,
      s"scale-mixed devRatio: ${m.devRatio(0)} vs ${m1.devRatio(0)}")
  }

  test("multinomial class discovery is gated (round 17 hardening)") {
    // a mis-typed label column (distinct per row) must fail FAST at
    // class discovery, not slowly inside the k-by-p solve
    import spark.implicits._
    val wide = (1 to SgdNet.MaxMultinomialClasses + 10)
      .map(i => (i.toDouble, i * 2.0, s"c$i")).toDF("x1", "x2", "y")
    val e = intercept[IllegalArgumentException] {
      SgdNet.fit(wide, Seq("x1", "x2"), "y",
        SgdNetParams(family = "multinomial", lambda = Array(0.1)))
    }
    assert(e.getMessage.contains("distinct values"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      CvSgdNet.fit(wide, Seq("x1", "x2"), Seq("y"),
        SgdNetParams(family = "multinomial", lambda = Array(0.1)), nfolds = 2)
    }
    assert(e2.getMessage.contains("distinct values"), e2.getMessage)
  }
}
