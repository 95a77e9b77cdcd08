package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SgdNetBinomialSpec extends SparkSpec {

  test("logistic regression matches spark.ml (same objective)") {
    // Compare on pre-standardized features with standardization=false on
    // both sides: isolates the solvers from spark.ml's sample-sd
    // standardization convention (graft uses population sd like glmnet).
    val raw = SparkSpec.binaryDF(spark)
    val st = raw.agg(avg("x1"), stddev_pop("x1"), avg("x2"), stddev_pop("x2")).head
    val df = raw
      .withColumn("z1", (col("x1") - st.getDouble(0)) / st.getDouble(1))
      .withColumn("z2", (col("x2") - st.getDouble(2)) / st.getDouble(3))
    for ((alpha, lam) <- Seq((0.0, 0.1), (1.0, 0.02), (0.5, 0.05))) {
      val m = SgdNet.fit(df, Seq("z1", "z2"), "y",
        SgdNetParams(family = "binomial", alpha = alpha, lambda = Array(lam),
          standardize = false, thresh = 1e-9, maxit = 100000))
      import org.apache.spark.ml.feature.VectorAssembler
      import org.apache.spark.ml.classification.LogisticRegression
      val va = new VectorAssembler().setInputCols(Array("z1", "z2")).setOutputCol("f")
      val ml = new LogisticRegression().setFeaturesCol("f").setLabelCol("y")
        .setRegParam(lam).setElasticNetParam(alpha).setStandardization(false)
        .setMaxIter(100000).setTol(1e-15).fit(va.transform(df))
      for (j <- 0 until 2)
        assert(math.abs(m.beta(0)(0)(j) - ml.coefficients(j)) < 1e-6,
          s"alpha=$alpha lam=$lam beta_$j: ${m.beta(0)(0)(j)} vs ${ml.coefficients(j)}")
      assert(math.abs(m.a0(0)(0) - ml.intercept) < 1e-6)
    }
  }

  test("class labels sorted; coefficients model the second level") {
    val df = SparkSpec.binaryDF(spark)
      .withColumn("lbl", when(col("y") === 1.0, "pos").otherwise("neg"))
    val m = SgdNet.fit(df, Seq("x1", "x2"), "lbl",
      SgdNetParams(family = "binomial", lambda = Array(0.05)))
    assert(m.classLabels.toSeq == Seq("neg", "pos"))
    // x1 has positive true effect on P(pos)
    assert(m.beta(0)(0)(0) > 0)
  }

  test("predict response/class columns") {
    val df = SparkSpec.binaryDF(spark)
    val m = SgdNet.fit(df, Seq("x1", "x2"), "y",
      SgdNetParams(family = "binomial", lambda = Array(0.01), thresh = 1e-8))
    val pred = df.select(
      m.responseCol(0).as("p"), m.classCol(0).as("c"), col("y"))
    val rows = pred.collect()
    assert(rows.forall(r => r.getDouble(0) >= 0 && r.getDouble(0) <= 1))
    // classification accuracy should beat the base rate comfortably
    val acc = rows.count(r => (r.getDouble(0) > 0.5) == (r.getDouble(2) == 1.0)).toDouble / rows.length
    assert(acc > 0.8, s"accuracy $acc")
  }

  test("deviance ratio increases along the path; nulldev is closed form") {
    val df = SparkSpec.binaryDF(spark)
    val m = SgdNet.fit(df, Seq("x1", "x2"), "y",
      SgdNetParams(family = "binomial", nlambda = 8))
    val n = df.count().toDouble
    val p = df.agg(avg("y")).head.getDouble(0)
    val expected = -2.0 * n * (p * math.log(p) + (1 - p) * math.log(1 - p))
    assert(math.abs(m.nulldev - expected) < 1e-6)
    assert(m.devRatio.last > m.devRatio.head)
    assert(m.devRatio.head < 0.02, "lambda_max fit explains ~no deviance")
    // every ratio lies in [0, 1], round-off at lambda_max included
    assert(m.devRatio.forall(r => r >= 0.0 && r <= 1.0),
      s"devRatio outside [0, 1]: ${m.devRatio.mkString(", ")}")
  }

  test("binomial rejects >2 or <2 classes") {
    val df3 = SparkSpec.multiclassDF(spark)
    val e = intercept[IllegalArgumentException] {
      SgdNet.fit(df3, Seq("x1", "x2"), "cls", SgdNetParams(family = "binomial"))
    }
    assert(e.getMessage.contains("multinomial"))
    val df1 = SparkSpec.binaryDF(spark).withColumn("one", lit("a"))
    intercept[IllegalArgumentException] {
      SgdNet.fit(df1, Seq("x1", "x2"), "one", SgdNetParams(family = "binomial"))
    }
  }

  test("AUC matches a hand-computed small case") {
    import spark.implicits._
    // scores: pos {3, 2}, neg {1, 2} -> pairs: (3>1)=1, (3>2)=1, (2>1)=1, (2==2)=0.5
    val df = Seq((3.0, 1.0), (2.0, 1.0), (1.0, 0.0), (2.0, 0.0)).toDF("s", "y")
    val auc = SgdNetModel.aucOf(df, "s", "y")
    assert(math.abs(auc - 3.5 / 4.0) < 1e-12)
  }

  test("large-p binomial lasso (screened IRLS) satisfies full KKT (round 17)") {
    // p >= ScreenMinP drives the per-Newton strong-rule screen; the
    // exact logistic-gradient KKT conditions on standardized coordinates
    // prove the screened path solves the FULL problem
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val p = 40
    assert(p >= SgdNet.ScreenMinP)
    val rows = (1 to 400).map { _ =>
      val x = Array.fill(p)(rnd.nextGaussian())
      val eta = 1.2 * x(0) - 0.8 * x(3) + 0.5 * x(11) - 0.2
      val y = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) 1.0 else 0.0
      (x.toSeq, y)
    }
    val names = (0 until p).map(j => s"x$j")
    val df = rows.toDF("xs", "y")
      .select(names.map(nm => col("xs")(nm.drop(1).toInt).as(nm)) :+ col("y"): _*)
    val m = SgdNet.fit(df, names, "y",
      SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 12,
        thresh = 1e-10, maxit = 100000))
    val data = rows.map { case (x, y) => (x.toArray, y) }
    val nD = data.length.toDouble
    val mx = Array.tabulate(p)(j => data.map(_._1(j)).sum / nD)
    val sd = Array.tabulate(p)(j =>
      math.sqrt(data.map(t => math.pow(t._1(j) - mx(j), 2)).sum / nD))
    var screeningUseful = false
    for (l <- m.lambda.indices) {
      val b = m.beta(l)(0); val a0 = m.a0(l)(0)
      if (b.count(_ != 0.0) * 2 < p) screeningUseful = true
      val grad = new Array[Double](p)
      data.foreach { case (x, y) =>
        var eta = a0
        var j = 0
        while (j < p) { eta += b(j) * x(j); j += 1 }
        val mu = 1.0 / (1.0 + math.exp(-eta))
        j = 0
        while (j < p) { grad(j) += (y - mu) * (x(j) - mx(j)) / sd(j); j += 1 }
      }
      val lam = m.lambda(l)
      for (j <- 0 until p) {
        val gj = grad(j) / nD
        if (b(j) == 0.0)
          assert(math.abs(gj) <= lam + 1e-4,
            s"KKT zero coord $j at lambda($l): |$gj| > $lam")
        else
          assert(math.abs(gj - lam * math.signum(b(j) * sd(j))) <= 1e-4,
            s"KKT active coord $j at lambda($l): $gj vs $lam")
      }
    }
    assert(screeningUseful, "path never sparse enough to exercise the screen")
  }

  test("sparse IRLS screen: screened == unscreened through the sparse " +
      "chassis (round 18)") {
    // Round 18 put the per-Newton strong rule on the SPARSE GLM routes
    // (SgdNet.fitSparse / fitSparseWithOffset) behind the same gates as the
    // dense ones. Chassis-level equality: fit the SAME CSR data with
    // the screen on and off (the screenGlm test seam) — every
    // coefficient and intercept along the path must agree to 1e-9
    // (separate fits: treeAggregate merge order wobbles the last ulp).
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    val p = 40
    assert(p >= SgdNet.ScreenMinP)
    val rows = (1 to 400).map { i =>
      // ~10 nonzeros per row: real CSR, signal on features 0/3/11
      val nz = (Seq(0, 3, 11) ++ Seq.fill(7)(rnd.nextInt(p))).distinct.sorted
      val vals = nz.map(_ => rnd.nextGaussian())
      val x = nz.zip(vals).toMap
      val eta = 1.4 * x(0) - 0.9 * x(3) + 0.6 * x(11) - 0.2
      val y = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) 1.0 else 0.0
      val yp = math.max(0L, math.round(math.exp(0.4 * x(0) - 0.3 * x(3)) +
        rnd.nextGaussian() * 0.3)).toDouble
      (i.toLong, nz, vals, y, yp, math.log(1.0 + (i % 4)))
    }
    val df = rows.toDF("rid", "sidx", "svals", "y", "yp", "off")
    def runBoth(fit: () => SgdNetModel): (SgdNetModel, SgdNetModel) = {
      val on = fit()
      SgdNet.screenGlm = false
      val off0 = try fit() finally SgdNet.screenGlm = true
      (on, off0)
    }
    def assertSame(a: SgdNetModel, b: SgdNetModel, tag: String): Unit = {
      assert(a.lambda.length == b.lambda.length, s"$tag path length")
      for (l <- a.lambda.indices) {
        assert(math.abs(a.a0(l)(0) - b.a0(l)(0)) < 1e-9, s"$tag a0($l)")
        for (j <- 0 until p)
          assert(math.abs(a.beta(l)(0)(j) - b.beta(l)(0)(j)) < 1e-9,
            s"$tag beta($l)($j): ${a.beta(l)(0)(j)} vs ${b.beta(l)(0)(j)}")
      }
    }
    val pb = SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 8,
      thresh = 1e-10, maxit = 100000)
    val (bOn, bOff) = runBoth(() => SgdNet.fitSparse(df, "sidx", "svals", p,
      "y", pb))
    assertSame(bOn, bOff, "binomial")
    assert(bOn.beta.exists(_. head.count(_ != 0.0) * 2 < p),
      "path sparse enough to exercise the screen")
    // poisson + offset: the sparse offset screened site
    val pp = SgdNetParams(family = "poisson", alpha = 1.0, nlambda = 6,
      thresh = 1e-9, maxit = 100000)
    val (pOn, pOff) = runBoth(() => SgdNet.fitSparseWithOffset(df, "sidx",
      "svals", p, "yp", "off", pp))
    assertSame(pOn, pOff, "poisson-offset")
  }
}
