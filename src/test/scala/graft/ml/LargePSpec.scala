package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Screened-Gram large-p route (round 18 — `LargeP.fitGaussian`):
  * must EQUAL the one-pass full-Gram path (`SgdNet.fit`) on every
  * shared regime — the strong rule + per-point exact KKT pass makes
  * the equality structural — while never holding more than O(|E|²)
  * driver state, proven by running where the full route's maxGramP
  * contract refuses. */
class LargePSpec extends SparkSpec {
  import spark.implicits._

  private val p = 48
  private lazy val data = {
    val rnd = new scala.util.Random(37)
    val rows = (1 to 400).map { i =>
      val x = Array.fill(p)(rnd.nextGaussian())
      val y = 1.5 * x(0) - 0.9 * x(7) + 0.6 * x(19) - 0.3 * x(33) + 0.4 +
        rnd.nextGaussian() * 0.5
      (i.toLong, x.toSeq, y)
    }
    val names = (0 until p).map(j => s"x$j")
    rows.toDF("rid", "xs", "y")
      .select(col("rid") +: names.map(nm =>
        col("xs")(nm.drop(1).toInt).as(nm)) :+ col("y"): _*)
  }
  private val names = (0 until p).map(j => s"x$j")

  private def assertSame(a: SgdNetModel, b: SgdNetModel, tol: Double,
                         tag: String): Unit = {
    assert(a.lambda.length == b.lambda.length, s"$tag path length")
    for (l <- a.lambda.indices) {
      assert(math.abs(a.lambda(l) - b.lambda(l)) <=
        tol * math.max(1.0, b.lambda(l)), s"$tag lambda($l)")
      assert(math.abs(a.a0(l)(0) - b.a0(l)(0)) < tol, s"$tag a0($l)")
      assert(math.abs(a.devRatio(l) - b.devRatio(l)) < tol, s"$tag dr($l)")
      for (j <- 0 until p)
        assert(math.abs(a.beta(l)(0)(j) - b.beta(l)(0)(j)) < tol,
          s"$tag beta($l)($j): ${a.beta(l)(0)(j)} vs ${b.beta(l)(0)(j)}")
    }
    assert(math.abs(a.nulldev - b.nulldev) <=
      tol * math.max(1.0, b.nulldev), s"$tag nulldev")
  }

  test("screened-Gram path == full-Gram path (auto + user lambda, " +
      "alpha grid, standardize/intercept off)") {
    for ((alpha, std, icept) <- Seq((1.0, true, true), (0.5, true, true),
        (1.0, false, true), (1.0, true, false))) {
      val prm = SgdNetParams(alpha = alpha, nlambda = 20, thresh = 1e-9,
        maxit = 100000, standardize = std, intercept = icept)
      val full = SgdNet.fit(data, names, "y", prm)
      val big = LargeP.fitGaussian(data, names, "y", prm)
      assertSame(big, full, 1e-7, s"alpha=$alpha std=$std int=$icept")
    }
    // user-supplied lambda including a first point ABOVE lambda_max
    // (empty candidate set at l = 0) and a dense tail
    val full0 = SgdNet.fit(data, names, "y",
      SgdNetParams(alpha = 1.0, nlambda = 3, thresh = 1e-9))
    val lmax = full0.lambda(0)
    val prmU = SgdNetParams(alpha = 1.0,
      lambda = Array(lmax * 2.0, lmax * 0.5, lmax * 0.1, lmax * 0.02),
      thresh = 1e-9, maxit = 100000)
    assertSame(LargeP.fitGaussian(data, names, "y", prmU),
      SgdNet.fit(data, names, "y", prmU), 1e-7, "user-lambda")
  }

  test("dfmax/pmax stop the path identically; contracts reject") {
    val prm = SgdNetParams(alpha = 1.0, nlambda = 30, thresh = 1e-9,
      maxit = 100000, dfmax = 3)
    val full = SgdNet.fit(data, names, "y", prm)
    val big = LargeP.fitGaussian(data, names, "y", prm)
    assertSame(big, full, 1e-7, "dfmax")
    assert(big.lambda.length < 30, "dfmax actually truncated")
    intercept[IllegalArgumentException] {
      LargeP.fitGaussian(data, names, "y", SgdNetParams(alpha = 0.0))
    }
    intercept[IllegalArgumentException] {
      LargeP.fitGaussian(data, names, "y",
        SgdNetParams(family = "binomial"))
    }
    intercept[IllegalArgumentException] {
      LargeP.fitGaussian(data, names, "y",
        SgdNetParams(penaltyFactor = Array.fill(p)(1.0)))
    }
  }

  test("runs where the full-Gram contract refuses; |E| cap enforced") {
    // a SELECTIVE path: geometric steps of ~0.75 keep the strong-rule
    // bound alpha(2λ_l − λ_{l-1}) ≈ 0.5·λ positive and tight (a coarse
    // grid with λ_l < λ_{l-1}/2 makes the rule vacuous and E → p); the
    // 0.25·lmax floor keeps the candidate set well under the test cap
    val full0 = SgdNet.fit(data, names, "y",
      SgdNetParams(alpha = 1.0, nlambda = 3, thresh = 1e-9))
    val lmax = full0.lambda(0)
    val prm = SgdNetParams(alpha = 1.0,
      lambda = Array(1.0, 0.75, 0.56, 0.42, 0.32, 0.25).map(_ * lmax),
      thresh = 1e-9, maxit = 100000)
    // reference answer first, while the cap still admits the full route
    val full = SgdNet.fit(data, names, "y", prm)
    val saved = SgdNet.maxGramP
    SgdNet.maxGramP = 16 // << p = 48
    try {
      intercept[IllegalArgumentException] {
        SgdNet.fit(data, names, "y", prm) // full Gram refuses at p > cap
      }
      // the screened route runs — its state is |E|^2, not p^2 — and
      // still returns the exact full-Gram path
      val big = LargeP.fitGaussian(data, names, "y", prm)
      assertSame(big, full, 1e-7, "capped")
      // ... but it fails FAST (not OOM) when the path drives |E| past
      // the cap: a deep fine path eventually admits everything
      val e = intercept[IllegalArgumentException] {
        LargeP.fitGaussian(data, names, "y",
          SgdNetParams(alpha = 1.0, nlambda = 60, lambdaMinRatio = 1e-4,
            thresh = 1e-9, maxit = 100000))
      }
      assert(e.getMessage.contains("maxGramP"), e.getMessage)
    } finally SgdNet.maxGramP = saved
  }

  test("npasses counts data passes: 1 + nlambda + extensions order") {
    val prm = SgdNetParams(alpha = 1.0, nlambda = 10, thresh = 1e-9,
      maxit = 100000)
    val big = LargeP.fitGaussian(data, names, "y", prm)
    // pass A + <= (gradient per point, skipped while beta = 0) +
    // extension passes: comfortably linear in the path length
    assert(big.npasses >= 2 && big.npasses <= 1 + 2 * 10 + 8,
      s"npasses = ${big.npasses}")
    // the GLM routes count every data pass too: the setup moments, at
    // least one screened pass per point, re-entry rebuilds and the
    // deviance pass
    val glm = LargeP.fitBinomial(glmData, names, "yb",
      SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 10,
        thresh = 1e-9, maxit = 100000))
    assert(glm.npasses >= 2 + glm.lambda.length &&
      glm.npasses <= 2 + 6 * glm.lambda.length, s"GLM npasses = ${glm.npasses}")
  }

  test("weights and offset through the screened gaussian route") {
    val rnd = new scala.util.Random(53)
    val wdata = data.withColumn("w",
      (pmod(col("rid") * 7, lit(3)) + lit(1)).cast("double"))
      .withColumn("off", (col("x3") * 0.5 + col("x11") * 0.2))
    val prm = SgdNetParams(alpha = 1.0, nlambda = 12, thresh = 1e-9,
      maxit = 100000)
    // weighted == the full-Gram weighted route
    val full = SgdNet.fitWeighted(wdata, names, "y", "w", prm)
    val big = LargeP.fitGaussian(wdata, names, "y", prm, weightCol = "w")
    assertSame(big, full, 1e-7, "weighted")
    // integer weights == row duplication through the screened chassis
    // (nulldev excepted: it scales with the ROW COUNT — 400 weighted
    // rows vs ~800 duplicated — exactly like the full weighted route;
    // the scale-free devRatio and all coefficients must agree)
    val dup = wdata.withColumn("k", col("w").cast("int"))
      .withColumn("k", explode(sequence(lit(1), col("k"))))
    val dupFit = LargeP.fitGaussian(dup, names, "y", prm)
    assert(big.lambda.length == dupFit.lambda.length, "dup path length")
    for (l <- big.lambda.indices) {
      assert(math.abs(big.lambda(l) - dupFit.lambda(l)) <=
        1e-6 * math.max(1.0, dupFit.lambda(l)), s"dup lambda($l)")
      assert(math.abs(big.a0(l)(0) - dupFit.a0(l)(0)) < 1e-6, s"dup a0($l)")
      assert(math.abs(big.devRatio(l) - dupFit.devRatio(l)) < 1e-6,
        s"dup devRatio($l)")
      for (j <- 0 until p)
        assert(math.abs(big.beta(l)(0)(j) - dupFit.beta(l)(0)(j)) < 1e-6,
          s"dup beta($l)($j)")
    }
    // zero weights drop the row
    val wz = wdata.withColumn("w0",
      when(pmod(col("rid"), lit(5)) === 0, 0.0).otherwise(col("w")))
    assertSame(
      LargeP.fitGaussian(wz, names, "y", prm, weightCol = "w0"),
      LargeP.fitGaussian(wz.filter(col("w0") > 0), names, "y", prm,
        weightCol = "w0"), 1e-9, "zero-weight-drop")
    // offset == the y − offset reduction; composes with weights
    assertSame(
      LargeP.fitGaussian(wdata, names, "y", prm, offsetCol = "off"),
      LargeP.fitGaussian(wdata.withColumn("y", col("y") - col("off")),
        names, "y", prm), 1e-9, "offset")
    assertSame(
      LargeP.fitGaussian(wdata, names, "y", prm, weightCol = "w",
        offsetCol = "off"),
      SgdNet.fitWeighted(wdata.withColumn("y", col("y") - col("off")),
        names, "y", "w", prm), 1e-7, "weighted+offset")
    ()
  }

  // -------------------------------------------- sparse (CSR) twin

  test("screened-Gram SPARSE path == full-Gram fitSparse == dense twin") {
    // dense rows as CSR (exact same moments -> same path), plus a
    // truly sparse fixture with structural zeros
    val csr = data.select(col("y") +: names.map(col): _*)
      .withColumn("sidx", array((0 until p).map(lit): _*))
      .withColumn("svals", array(names.map(col): _*))
    for ((alpha, std, icept) <- Seq((1.0, true, true), (0.5, true, true),
        (1.0, true, false))) {
      val prm = SgdNetParams(alpha = alpha, nlambda = 12, thresh = 1e-9,
        maxit = 100000, standardize = std, intercept = icept)
      val full = SgdNet.fitSparse(csr, "sidx", "svals", p, "y", prm)
      val big = LargeP.fitSparseGaussian(csr, "sidx", "svals", p, "y", prm)
      assertSame(big, full, 1e-7, s"sparse alpha=$alpha std=$std int=$icept")
      val dense = LargeP.fitGaussian(data, names, "y", prm)
      assertSame(big, dense, 1e-7, s"sparse==dense alpha=$alpha")
    }
    // structural zeros: drop every entry below 0.5 in magnitude
    val rnd = new scala.util.Random(17)
    val sp = (1 to 300).map { i =>
      val ent = (0 until p).flatMap { j =>
        val v = rnd.nextGaussian()
        if (math.abs(v) > 0.8) Some((j, v * 2)) else None
      }
      val y = ent.collect {
        case (0, v) => 1.5 * v
        case (7, v) => -0.9 * v
      }.sum + rnd.nextGaussian() * 0.3
      (i.toLong, ent.map(_._1), ent.map(_._2), y)
    }.toDF("rid", "sidx", "svals", "y")
    val prm = SgdNetParams(alpha = 1.0, nlambda = 15, thresh = 1e-9,
      maxit = 100000)
    assertSame(LargeP.fitSparseGaussian(sp, "sidx", "svals", p, "y", prm),
      SgdNet.fitSparse(sp, "sidx", "svals", p, "y", prm), 1e-7,
      "structural-zeros")
    // dfmax + contracts + the capped regime
    val prmD = prm.copy(dfmax = 3)
    assertSame(LargeP.fitSparseGaussian(sp, "sidx", "svals", p, "y", prmD),
      SgdNet.fitSparse(sp, "sidx", "svals", p, "y", prmD), 1e-7,
      "sparse-dfmax")
    intercept[IllegalArgumentException] {
      LargeP.fitSparseGaussian(sp, "sidx", "svals", p, "y",
        SgdNetParams(alpha = 0.0))
    }
    // capped regime needs a SELECTIVE path (the gaussian capped test's
    // lesson: a dense default-min-ratio path drives |E| past any cap)
    val l0s = SgdNet.fitSparse(sp, "sidx", "svals", p, "y",
      SgdNetParams(alpha = 1.0, nlambda = 3, thresh = 1e-9)).lambda(0)
    val prmS = SgdNetParams(alpha = 1.0,
      lambda = Array(1.0, 0.75, 0.56, 0.42).map(_ * l0s), thresh = 1e-9,
      maxit = 100000)
    val ref = SgdNet.fitSparse(sp, "sidx", "svals", p, "y", prmS)
    val saved = SgdNet.maxGramP
    SgdNet.maxGramP = 16
    try {
      intercept[IllegalArgumentException] {
        SgdNet.fitSparse(sp, "sidx", "svals", p, "y", prmS)
      }
      assertSame(
        LargeP.fitSparseGaussian(sp, "sidx", "svals", p, "y", prmS), ref,
        1e-7, "sparse-capped")
    } finally SgdNet.maxGramP = saved
  }

  test("screened-Gram SPARSE CV == CvSgdNet.fitSparse == dense screened CV") {
    val fold = pmod(col("rid") * 2654435761L, lit(4))
    val csr = data
      .withColumn("sidx", array((0 until p).map(lit): _*))
      .withColumn("svals", array(names.map(col): _*))
    val prm = SgdNetParams(alpha = 1.0, nlambda = 10, thresh = 1e-9,
      maxit = 100000)
    val ref = CvSgdNet.fitSparse(csr, "sidx", "svals", p, "y", prm,
      nfolds = 4, foldCol = fold)
    val big = LargeP.cvSparseGaussian(csr, "sidx", "svals", p, "y", prm,
      nfolds = 4, foldCol = fold)
    assertSameCv(big, ref, 1e-7, "sparse-cv")
    // the same folds through the DENSE screened CV — identical answers
    assertSameCv(big,
      LargeP.cvGaussian(data, names, "y", prm, nfolds = 4, foldCol = fold),
      1e-7, "sparse-cv==dense-cv")
    // mae (the sparse merge-join scoring scan) + an alpha grid
    assertSameCv(
      LargeP.cvSparseGaussian(csr, "sidx", "svals", p, "y", prm,
        nfolds = 4, alphas = Seq(1.0, 0.5), measure = "mae",
        foldCol = fold),
      CvSgdNet.fitSparse(csr, "sidx", "svals", p, "y", prm, nfolds = 4,
        measure = "mae", foldCol = fold, alphas = Seq(1.0, 0.5)),
      1e-7, "sparse-cv-mae")
    // structural zeros (rows carry only their nnz)
    val rnd = new scala.util.Random(17)
    val spRows = (1 to 300).map { i =>
      val ent = (0 until p).flatMap { j =>
        val v = rnd.nextGaussian()
        if (math.abs(v) > 0.8) Some((j, v * 2)) else None
      }
      val y = ent.collect {
        case (0, v) => 1.5 * v
        case (7, v) => -0.9 * v
      }.sum + rnd.nextGaussian() * 0.3
      (i.toLong, ent.map(_._1), ent.map(_._2), y)
    }
    val sp = spRows.toDF("rid", "sidx", "svals", "y")
    val foldSp = pmod(col("rid") * 2654435761L, lit(4))
    assertSameCv(
      LargeP.cvSparseGaussian(sp, "sidx", "svals", p, "y", prm,
        nfolds = 4, foldCol = foldSp),
      CvSgdNet.fitSparse(sp, "sidx", "svals", p, "y", prm, nfolds = 4,
        foldCol = foldSp), 1e-7, "sparse-cv-zeros")
    // contracts + the capped regime (fitSparse CV refuses at the cap)
    intercept[IllegalArgumentException] {
      LargeP.cvSparseGaussian(sp, "sidx", "svals", p, "y",
        SgdNetParams(alpha = 0.0))
    }
    val prmS = SgdNetParams(alpha = 1.0, nlambda = 8,
      lambdaMinRatio = 0.25, thresh = 1e-9, maxit = 100000)
    val refS = CvSgdNet.fitSparse(sp, "sidx", "svals", p, "y", prmS,
      nfolds = 4, foldCol = foldSp)
    val saved = SgdNet.maxGramP
    SgdNet.maxGramP = 16
    try {
      intercept[IllegalArgumentException] {
        CvSgdNet.fitSparse(sp, "sidx", "svals", p, "y", prmS, nfolds = 4,
          foldCol = foldSp)
      }
      assertSameCv(
        LargeP.cvSparseGaussian(sp, "sidx", "svals", p, "y", prmS,
          nfolds = 4, foldCol = foldSp), refS, 1e-7, "sparse-cv-capped")
    } finally SgdNet.maxGramP = saved
  }

  test("screened SPARSE IRLS == full sparse IRLS == dense screened twin") {
    val csr = glmData.select(col("yb") +: col("yp") +: names.map(col): _*)
      .withColumn("sidx", array((0 until p).map(lit): _*))
      .withColumn("svals", array(names.map(col): _*))
    for ((alpha, icept) <- Seq((1.0, true), (0.5, true), (1.0, false))) {
      val prmB = SgdNetParams(family = "binomial", alpha = alpha,
        nlambda = 10, thresh = 1e-9, maxit = 100000, intercept = icept)
      val full = SgdNet.fitSparse(csr, "sidx", "svals", p, "yb", prmB)
      val big = LargeP.fitSparseBinomial(csr, "sidx", "svals", p, "yb", prmB)
      assertSame(big, full, 1e-6, s"sparse-binom alpha=$alpha int=$icept")
      val dense = LargeP.fitBinomial(glmData, names, "yb", prmB)
      assertSame(big, dense, 1e-6, s"sparse==dense-binom alpha=$alpha")
    }
    val prmP = SgdNetParams(family = "poisson", alpha = 1.0, nlambda = 10,
      thresh = 1e-9, maxit = 100000)
    assertSame(
      LargeP.fitSparsePoisson(csr, "sidx", "svals", p, "yp", prmP),
      SgdNet.fitSparse(csr, "sidx", "svals", p, "yp", prmP), 1e-6,
      "sparse-poisson")
    // dfmax + contracts
    val prmD = SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 15,
      thresh = 1e-9, maxit = 100000, dfmax = 2)
    assertSame(
      LargeP.fitSparseBinomial(csr, "sidx", "svals", p, "yb", prmD),
      SgdNet.fitSparse(csr, "sidx", "svals", p, "yb", prmD), 1e-6,
      "sparse-binom-dfmax")
    intercept[IllegalArgumentException] {
      LargeP.fitSparseBinomial(csr, "sidx", "svals", p, "yb",
        SgdNetParams(family = "binomial", alpha = 0.0))
    }
    intercept[IllegalArgumentException] {
      LargeP.fitSparsePoisson(csr, "sidx", "svals", p, "yp",
        SgdNetParams(family = "binomial"))
    }
  }

  // ---------------------------------------------- screened-Gram CV

  private def assertSameCv(a: CvSgdNet.CvResult, b: CvSgdNet.CvResult,
                           tol: Double, tag: String): Unit = {
    assert(a.paths.size == b.paths.size, s"$tag path count")
    for ((pa, pb) <- a.paths.zip(b.paths)) {
      assert(pa.alpha == pb.alpha, s"$tag alpha")
      assert(pa.lambda.length == pb.lambda.length, s"$tag L")
      for (l <- pa.lambda.indices) {
        assert(math.abs(pa.lambda(l) - pb.lambda(l)) <=
          tol * math.max(1.0, pb.lambda(l)), s"$tag lambda($l)")
        assert(math.abs(pa.cvm(l) - pb.cvm(l)) <=
          tol * math.max(1.0, math.abs(pb.cvm(l))), s"$tag cvm($l): ${pa.cvm(l)} vs ${pb.cvm(l)}")
        assert(math.abs(pa.cvsd(l) - pb.cvsd(l)) <=
          tol * math.max(1.0, math.abs(pb.cvsd(l))), s"$tag cvsd($l)")
      }
      assert(math.abs(pa.lambdaMin - pb.lambdaMin) <= tol *
        math.max(1.0, pb.lambdaMin), s"$tag lambda.min")
      assert(math.abs(pa.lambda1se - pb.lambda1se) <= tol *
        math.max(1.0, pb.lambda1se), s"$tag lambda.1se")
      for (l <- pa.lambda.indices; j <- 0 until p)
        assert(math.abs(pa.fit.beta(l)(0)(j) - pb.fit.beta(l)(0)(j)) < tol,
          s"$tag full beta($l)($j)")
    }
    assert(a.best.alpha == b.best.alpha, s"$tag best alpha")
  }

  test("screened-Gram CV == CvSgdNet.fit (alpha grid, mae, user lambda)") {
    val fold = pmod(col("rid") * 2654435761L, lit(4))
    val prm = SgdNetParams(alpha = 1.0, nlambda = 12, thresh = 1e-9,
      maxit = 100000)
    val ref = CvSgdNet.fit(data, names, Seq("y"), prm, nfolds = 4,
      alphas = Seq(1.0, 0.5), foldCol = fold)
    val big = LargeP.cvGaussian(data, names, "y", prm, nfolds = 4,
      alphas = Seq(1.0, 0.5), foldCol = fold)
    assertSameCv(big, ref, 1e-7, "alpha-grid")
    // mae goes through the batched scoring scan, not the moment form
    val refMae = CvSgdNet.fit(data, names, Seq("y"), prm, nfolds = 4,
      measure = "mae", foldCol = fold)
    val bigMae = LargeP.cvGaussian(data, names, "y", prm, nfolds = 4,
      measure = "mae", foldCol = fold)
    assertSameCv(bigMae, refMae, 1e-7, "mae")
    // user lambda + no-intercept/no-standardize variants
    val lmax = ref.paths.head.lambda(0)
    val prmU = SgdNetParams(alpha = 1.0,
      lambda = Array(lmax * 2.0, lmax * 0.5, lmax * 0.1),
      thresh = 1e-9, maxit = 100000, standardize = false)
    assertSameCv(
      LargeP.cvGaussian(data, names, "y", prmU, nfolds = 4, foldCol = fold),
      CvSgdNet.fit(data, names, Seq("y"), prmU, nfolds = 4, foldCol = fold),
      1e-7, "user-lambda-nostd")
    val prmN = SgdNetParams(alpha = 1.0, nlambda = 8, thresh = 1e-9,
      maxit = 100000, intercept = false)
    assertSameCv(
      LargeP.cvGaussian(data, names, "y", prmN, nfolds = 4, foldCol = fold),
      CvSgdNet.fit(data, names, Seq("y"), prmN, nfolds = 4, foldCol = fold),
      1e-7, "no-intercept")
  }

  test("screened-Gram CV: dfmax, contracts, runs past the full-route cap") {
    val fold = pmod(col("rid") * 2654435761L, lit(4))
    val prmD = SgdNetParams(alpha = 1.0, nlambda = 20, thresh = 1e-9,
      maxit = 100000, dfmax = 3)
    val refD = CvSgdNet.fit(data, names, Seq("y"), prmD, nfolds = 4,
      foldCol = fold)
    val bigD = LargeP.cvGaussian(data, names, "y", prmD, nfolds = 4,
      foldCol = fold)
    assertSameCv(bigD, refD, 1e-7, "dfmax")
    assert(bigD.best.lambda.length < 20, "dfmax actually truncated")
    intercept[IllegalArgumentException] {
      LargeP.cvGaussian(data, names, "y", SgdNetParams(alpha = 0.0))
    }
    intercept[IllegalArgumentException] {
      LargeP.cvGaussian(data, names, "y",
        SgdNetParams(penaltyFactor = Array.fill(p)(1.0)))
    }
    intercept[IllegalArgumentException] {
      LargeP.cvGaussian(data, names, "y", SgdNetParams(), measure = "auc")
    }
    // the regime the route exists for: CV where the per-fold Gram CV
    // refuses at the cap, same answers as the full CV computed first
    val prmS = SgdNetParams(alpha = 1.0, nlambda = 8,
      lambdaMinRatio = 0.25, thresh = 1e-9, maxit = 100000)
    val ref = CvSgdNet.fit(data, names, Seq("y"), prmS, nfolds = 4,
      foldCol = fold)
    val saved = SgdNet.maxGramP
    SgdNet.maxGramP = 16
    try {
      intercept[IllegalArgumentException] {
        CvSgdNet.fit(data, names, Seq("y"), prmS, nfolds = 4, foldCol = fold)
      }
      assertSameCv(
        LargeP.cvGaussian(data, names, "y", prmS, nfolds = 4, foldCol = fold),
        ref, 1e-7, "capped-cv")
    } finally SgdNet.maxGramP = saved
  }

  // ------------------------------------------------- GLM (IRLS) twins

  private lazy val glmData = {
    val rnd = new scala.util.Random(91)
    val rows = (1 to 500).map { i =>
      val x = Array.fill(p)(rnd.nextGaussian())
      val eta = 1.2 * x(0) - 0.8 * x(7) + 0.5 * x(19) - 0.3
      val pb = 1.0 / (1.0 + math.exp(-eta))
      val yb = if (rnd.nextDouble() < pb) 1.0 else 0.0
      // poisson counts from a smaller linear predictor (log link)
      val mu = math.exp(0.6 * x(3) - 0.4 * x(11) + 0.5)
      var yp = 0; var t = math.exp(-mu); var s = t; val u = rnd.nextDouble()
      while (s < u && yp < 60) { yp += 1; t *= mu / yp; s += t }
      (i.toLong, x.toSeq, yb, yp.toDouble)
    }
    rows.toDF("rid", "xs", "yb", "yp")
      .select(col("rid") +: names.map(nm =>
        col("xs")(nm.drop(1).toInt).as(nm)) :+ col("yb") :+ col("yp"): _*)
  }

  test("screened IRLS binomial path == full-Gram SgdNet.fit path") {
    for ((alpha, std, icept) <- Seq((1.0, true, true), (0.5, true, true),
        (1.0, true, false))) {
      val prm = SgdNetParams(family = "binomial", alpha = alpha,
        nlambda = 12, thresh = 1e-9, maxit = 100000,
        standardize = std, intercept = icept)
      val full = SgdNet.fit(glmData, names, "yb", prm)
      val big = LargeP.fitBinomial(glmData, names, "yb", prm)
      assertSame(big, full, 1e-6, s"binom alpha=$alpha std=$std int=$icept")
    }
    // user lambda incl. a point above lambda_max (empty E at l = 0)
    val l0 = SgdNet.fit(glmData, names, "yb",
      SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 3,
        thresh = 1e-9)).lambda(0)
    val prmU = SgdNetParams(family = "binomial", alpha = 1.0,
      lambda = Array(l0 * 2.0, l0 * 0.5, l0 * 0.1), thresh = 1e-9,
      maxit = 100000)
    assertSame(LargeP.fitBinomial(glmData, names, "yb", prmU),
      SgdNet.fit(glmData, names, "yb", prmU), 1e-6, "binom-user-lambda")
  }

  test("screened IRLS poisson path == full-Gram SgdNet.fit path") {
    for ((alpha, icept) <- Seq((1.0, true), (0.5, true), (1.0, false))) {
      val prm = SgdNetParams(family = "poisson", alpha = alpha,
        nlambda = 12, thresh = 1e-9, maxit = 100000, intercept = icept)
      val full = SgdNet.fit(glmData, names, "yp", prm)
      val big = LargeP.fitPoisson(glmData, names, "yp", prm)
      assertSame(big, full, 1e-6, s"poisson alpha=$alpha int=$icept")
    }
  }

  test("GLM route: dfmax stops identically; contracts; runs past the cap") {
    val prm = SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 20,
      thresh = 1e-9, maxit = 100000, dfmax = 2)
    val full = SgdNet.fit(glmData, names, "yb", prm)
    val big = LargeP.fitBinomial(glmData, names, "yb", prm)
    assertSame(big, full, 1e-6, "binom-dfmax")
    assert(big.lambda.length < 20, "dfmax actually truncated")
    intercept[IllegalArgumentException] {
      LargeP.fitBinomial(glmData, names, "yb",
        SgdNetParams(family = "binomial", alpha = 0.0))
    }
    intercept[IllegalArgumentException] {
      LargeP.fitPoisson(glmData, names, "yb",
        SgdNetParams(family = "binomial"))
    }
    intercept[IllegalArgumentException] {
      LargeP.fitBinomial(glmData, names, "yb",
        SgdNetParams(family = "binomial",
          penaltyFactor = Array.fill(p)(1.0)))
    }
    // runs where the full-Gram IRLS contract refuses (|E|^2 state only)
    val l0 = full.lambda(0)
    val prmS = SgdNetParams(family = "binomial", alpha = 1.0,
      lambda = Array(1.0, 0.75, 0.56).map(_ * l0), thresh = 1e-9,
      maxit = 100000)
    val ref = SgdNet.fit(glmData, names, "yb", prmS)
    val saved = SgdNet.maxGramP
    SgdNet.maxGramP = 16
    try {
      intercept[IllegalArgumentException] {
        SgdNet.fit(glmData, names, "yb", prmS)
      }
      assertSame(LargeP.fitBinomial(glmData, names, "yb", prmS), ref,
        1e-6, "binom-capped")
    } finally SgdNet.maxGramP = saved
  }

  private def assertSameRelax(a: SgdNet.RelaxedPath, b: SgdNet.RelaxedPath,
                              tol: Double, tag: String): Unit = {
    assertSame(a.model, b.model, tol, s"$tag model")
    for (l <- a.model.lambda.indices) {
      assert(math.abs(a.olsA0(l) - b.olsA0(l)) < tol, s"$tag olsA0($l)")
      for (j <- 0 until p)
        assert(math.abs(a.olsBeta(l)(j) - b.olsBeta(l)(j)) < tol,
          s"$tag olsBeta($l)($j): ${a.olsBeta(l)(j)} vs ${b.olsBeta(l)(j)}")
    }
  }

  test("relaxed refits through the screened chassis == SgdNet.relaxedFit") {
    val prm = SgdNetParams(alpha = 1.0, nlambda = 12, thresh = 1e-9,
      maxit = 100000)
    assertSameRelax(
      LargeP.relaxedFitGaussian(data, names, "y", prm, gamma = 0.3),
      SgdNet.relaxedFit(data, names, "y", prm, gamma = 0.3), 1e-7, "relax")
    // weighted + offset compositions
    val wdata = data
      .withColumn("w", (pmod(col("rid") * 7, lit(3)) + lit(1)).cast("double"))
      .withColumn("off", col("x3") * 0.5 + col("x11") * 0.2)
    assertSameRelax(
      LargeP.relaxedFitGaussian(wdata, names, "y", prm, gamma = 0.0,
        weightCol = "w"),
      SgdNet.relaxedFitWeighted(wdata, names, "y", "w", prm, gamma = 0.0),
      1e-7, "relax-w")
    assertSameRelax(
      LargeP.relaxedFitGaussian(wdata, names, "y", prm, gamma = 1.0,
        offsetCol = "off"),
      SgdNet.relaxedFitWithOffset(wdata, names, "y", "off", prm,
        gamma = 1.0), 1e-7, "relax-off")
    // sparse twin == relaxedFitSparse == the dense screened relax
    val csr = data
      .withColumn("sidx", array((0 until p).map(lit): _*))
      .withColumn("svals", array(names.map(col): _*))
    val bigSp = LargeP.relaxedFitSparseGaussian(csr, "sidx", "svals", p,
      "y", prm, gamma = 0.5)
    assertSameRelax(bigSp,
      SgdNet.relaxedFitSparse(csr, "sidx", "svals", p, "y", prm,
        gamma = 0.5), 1e-7, "relax-sparse")
    // capped regime: the one-pass relax refuses, the screened one runs
    val full0 = SgdNet.fit(data, names, "y",
      SgdNetParams(alpha = 1.0, nlambda = 3, thresh = 1e-9))
    val lmax = full0.lambda(0)
    // top point STRICTLY above lambda_max: at exactly lmax the refit
    // activity is a knife-edge (a 1e-12 moment difference between the
    // full-Gram and screened chassis decides null vs 1-coefficient
    // refit at the top point) — the same discipline the other parity
    // rows in this suite and the round-16 sparse-relax spec adopted.
    // (1.05, not 2.0: a huge top-point jump would blow the strong-rule
    // candidate set past the capped maxGramP=16 budget below)
    val prmS = SgdNetParams(alpha = 1.0,
      lambda = Array(1.05, 0.75, 0.56, 0.42).map(_ * lmax), thresh = 1e-9,
      maxit = 100000)
    val ref = SgdNet.relaxedFit(data, names, "y", prmS, gamma = 0.2)
    val saved = SgdNet.maxGramP
    SgdNet.maxGramP = 16
    try {
      intercept[IllegalArgumentException] {
        SgdNet.relaxedFit(data, names, "y", prmS, gamma = 0.2)
      }
      assertSameRelax(
        LargeP.relaxedFitGaussian(data, names, "y", prmS, gamma = 0.2),
        ref, 1e-7, "relax-capped")
    } finally SgdNet.maxGramP = saved
    // blend sanity: gamma = 1 reproduces the penalized path exactly
    val g1 = LargeP.relaxedFitGaussian(data, names, "y", prm, gamma = 1.0)
    for (l <- g1.model.lambda.indices) {
      assert(g1.blendedA0(l) == g1.model.a0(l)(0), s"blend a0($l)")
      for (j <- 0 until p)
        assert(g1.blendedBeta(l)(j) == g1.model.beta(l)(0)(j),
          s"blend beta($l)($j)")
    }
  }

  private def assertSameMn(a: SgdNetModel, b: SgdNetModel, tol: Double,
                           tag: String): Unit = {
    assert(a.lambda.length == b.lambda.length, s"$tag path length")
    val k = b.a0(0).length
    for (l <- a.lambda.indices) {
      assert(math.abs(a.lambda(l) - b.lambda(l)) <=
        tol * math.max(1.0, b.lambda(l)), s"$tag lambda($l)")
      for (t <- 0 until k) {
        assert(math.abs(a.a0(l)(t) - b.a0(l)(t)) < tol, s"$tag a0($l)($t)")
        for (j <- 0 until p)
          assert(math.abs(a.beta(l)(t)(j) - b.beta(l)(t)(j)) < tol,
            s"$tag beta($l)($t)($j): ${a.beta(l)(t)(j)} vs ${b.beta(l)(t)(j)}")
      }
      assert(math.abs(a.devRatio(l) - b.devRatio(l)) < tol, s"$tag dr($l)")
    }
    assert(math.abs(a.nulldev - b.nulldev) <=
      tol * math.max(1.0, b.nulldev), s"$tag nulldev")
  }

  test("large-p multinomial == full-Gram multinomial (same FISTA core)") {
    val mn = glmData.withColumn("ym",
      when(col("x0") + col("x7") * 0.5 > 0.6, "a")
        .when(col("x19") > 0.0, "b").otherwise("c"))
    // FISTA pays one cluster pass per iteration, so the spec runs the
    // board fixtures' convergence regime (thresh 1e-5, short explicit
    // grids), not the moment routes' 1e-9 — both routes execute the
    // IDENTICAL core, so parity only needs each to converge at its own
    // thresh; tolerance follows the thresh
    for ((tm, alpha) <- Seq(("ungrouped", 1.0), ("grouped", 0.5))) {
      val prm = SgdNetParams(family = "multinomial", alpha = alpha,
        lambda = Array(0.08, 0.03), thresh = 1e-5, maxit = 5000,
        typeMultinomial = tm)
      val full = SgdNet.fit(mn, names, "ym", prm)
      val big = LargeP.fitMultinomial(mn, names, "ym", prm)
      assertSameMn(big, full, 1e-4, s"mn-$tm")
    }
    // sparse CSR twin == the full-Gram sparse route == the dense twin
    val csr = mn
      .withColumn("sidx", array((0 until p).map(lit): _*))
      .withColumn("svals", array(names.map(col): _*))
    val prmS = SgdNetParams(family = "multinomial", alpha = 1.0,
      lambda = Array(0.08, 0.03), thresh = 1e-5, maxit = 5000)
    val bigSp = LargeP.fitSparseMultinomial(csr, "sidx", "svals", p, "ym",
      prmS)
    assertSameMn(bigSp,
      SgdNet.fitSparse(csr, "sidx", "svals", p, "ym", prmS), 1e-4,
      "mn-sparse")
    val bigDense = LargeP.fitMultinomial(mn, names, "ym", prmS)
    assertSameMn(bigSp, bigDense, 1e-4, "mn-sparse==dense")
    // runs past the cap, returning the full route's path
    val ref = SgdNet.fit(mn, names, "ym", prmS)
    val saved = SgdNet.maxGramP
    SgdNet.maxGramP = 16
    try {
      intercept[IllegalArgumentException] {
        SgdNet.fit(mn, names, "ym", prmS)
      }
      assertSameMn(LargeP.fitMultinomial(mn, names, "ym", prmS), ref,
        1e-4, "mn-capped")
    } finally SgdNet.maxGramP = saved
  }

  test("GLM relax through the screened chassis == SgdNet.relaxedFit") {
    // auto paths start at EXACTLY λmax, where refit activity is a
    // knife-edge (a 1e-12 moment difference decides whether the top
    // point refits the null or a 1-coefficient model — the round-16
    // sparse-relax spec lesson); generic user grids, with the top
    // point safely above λmax, pin activity in both routes
    val l0b = SgdNet.fit(glmData, names, "yb",
      SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 3,
        thresh = 1e-9)).lambda(0)
    val prmB = SgdNetParams(family = "binomial", alpha = 1.0,
      lambda = Array(1.3, 0.7, 0.4, 0.2, 0.1).map(_ * l0b),
      thresh = 1e-9, maxit = 100000)
    assertSameRelax(
      LargeP.relaxedFitBinomial(glmData, names, "yb", prmB, gamma = 0.3),
      SgdNet.relaxedFit(glmData, names, "yb", prmB, gamma = 0.3), 1e-6,
      "relax-binom")
    val l0p = SgdNet.fit(glmData, names, "yp",
      SgdNetParams(family = "poisson", alpha = 1.0, nlambda = 3,
        thresh = 1e-9)).lambda(0)
    val prmP = SgdNetParams(family = "poisson", alpha = 1.0,
      lambda = Array(1.3, 0.7, 0.4, 0.2, 0.1).map(_ * l0p),
      thresh = 1e-9, maxit = 100000)
    assertSameRelax(
      LargeP.relaxedFitPoisson(glmData, names, "yp", prmP, gamma = 0.0),
      SgdNet.relaxedFit(glmData, names, "yp", prmP, gamma = 0.0), 1e-6,
      "relax-pois")
    // weights + offset compositions ride the same shared refit
    val wdata = glmData
      .withColumn("w", (pmod(col("rid") * 7, lit(3)) + lit(1)).cast("double"))
      .withColumn("off", col("x3") * 0.4 + col("x11") * 0.2)
    assertSameRelax(
      LargeP.relaxedFitBinomial(wdata, names, "yb", prmB, gamma = 0.5,
        weightCol = "w"),
      SgdNet.relaxedFitWeighted(wdata, names, "yb", "w", prmB, gamma = 0.5),
      1e-6, "relax-binom-w")
    assertSameRelax(
      LargeP.relaxedFitBinomial(wdata, names, "yb", prmB, gamma = 0.5,
        offsetCol = "off"),
      SgdNet.relaxedFitWithOffset(wdata, names, "yb", "off", prmB,
        gamma = 0.5), 1e-6, "relax-binom-off")
    // capped regime: the dense relax refuses, the screened one runs.
    // λ₀ sits ABOVE λmax (the exact-λmax point is a knife-edge: a
    // sub-tolerance activity difference flips the refit between the
    // null model and a 1-coefficient OLS — the round-16 sparse-relax
    // spec lesson)
    val l0 = SgdNet.fit(glmData, names, "yb",
      SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 3,
        thresh = 1e-9)).lambda(0)
    val prmS = SgdNetParams(family = "binomial", alpha = 1.0,
      lambda = Array(1.0001, 0.75, 0.56).map(_ * l0), thresh = 1e-9,
      maxit = 100000)
    val ref = SgdNet.relaxedFit(glmData, names, "yb", prmS, gamma = 0.2)
    val saved = SgdNet.maxGramP
    SgdNet.maxGramP = 16
    try {
      intercept[IllegalArgumentException] {
        SgdNet.relaxedFit(glmData, names, "yb", prmS, gamma = 0.2)
      }
      assertSameRelax(
        LargeP.relaxedFitBinomial(glmData, names, "yb", prmS, gamma = 0.2),
        ref, 1e-6, "relax-binom-capped")
    } finally SgdNet.maxGramP = saved
  }

  test("screened-Gram GLM CV == CvSgdNet.fit shared-pass CV") {
    val fold = pmod(col("rid") * 2654435761L, lit(4))
    val prmB = SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 8,
      thresh = 1e-9, maxit = 100000)
    val refB = CvSgdNet.fit(glmData, names, Seq("yb"), prmB, nfolds = 4,
      foldCol = fold)
    val bigB = LargeP.cvBinomial(glmData, names, "yb", prmB, nfolds = 4,
      foldCol = fold)
    assertSameCv(bigB, refB, 1e-6, "binom-cv")
    // the non-moment measures: class (0/1 counts), auc (rank chain),
    // mse (response scale) — all against the shared-pass route
    for (msr <- Seq("class", "auc", "mse")) {
      assertSameCv(
        LargeP.cvBinomial(glmData, names, "yb", prmB, nfolds = 4,
          measure = msr, foldCol = fold),
        CvSgdNet.fit(glmData, names, Seq("yb"), prmB, nfolds = 4,
          measure = msr, foldCol = fold), 1e-6, s"binom-cv-$msr")
    }
    // poisson with an alpha grid (one moment pass, shared E)
    val prmP = SgdNetParams(family = "poisson", alpha = 1.0, nlambda = 8,
      thresh = 1e-9, maxit = 100000)
    assertSameCv(
      LargeP.cvPoisson(glmData, names, "yp", prmP, nfolds = 4,
        alphas = Seq(1.0, 0.5), foldCol = fold),
      CvSgdNet.fit(glmData, names, Seq("yp"), prmP, nfolds = 4,
        alphas = Seq(1.0, 0.5), foldCol = fold), 1e-6, "pois-cv-grid")
    // no-intercept variant (batched init-gradient pass)
    val prmN = SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 6,
      thresh = 1e-9, maxit = 100000, intercept = false)
    assertSameCv(
      LargeP.cvBinomial(glmData, names, "yb", prmN, nfolds = 4,
        foldCol = fold),
      CvSgdNet.fit(glmData, names, Seq("yb"), prmN, nfolds = 4,
        foldCol = fold), 1e-6, "binom-cv-noint")
  }

  test("screened-Gram GLM CV: contracts; runs past the full-route cap") {
    val fold = pmod(col("rid") * 2654435761L, lit(4))
    intercept[IllegalArgumentException] {
      LargeP.cvBinomial(glmData, names, "yb",
        SgdNetParams(family = "binomial", alpha = 0.0))
    }
    intercept[IllegalArgumentException] {
      LargeP.cvPoisson(glmData, names, "yp",
        SgdNetParams(family = "poisson"), measure = "auc")
    }
    intercept[IllegalArgumentException] {
      LargeP.cvBinomial(glmData, names, "yb",
        SgdNetParams(family = "binomial",
          penaltyFactor = Array.fill(p)(1.0)))
    }
    // every positive row in fold 0 leaves fold 0's train set one class
    val oneClass = when(col("yb") === 1.0, lit(0))
      .otherwise(lit(1) + pmod(col("rid"), lit(3)))
    val e1 = intercept[IllegalArgumentException] {
      LargeP.cvBinomial(glmData, names, "yb",
        SgdNetParams(family = "binomial", nlambda = 3), nfolds = 4,
        foldCol = oneClass)
    }
    assert(e1.getMessage.contains("both classes in every train fold"),
      e1.getMessage)
    // a fold index outside [0, nfolds) fails in the moments pass
    val e2 = intercept[Exception] {
      LargeP.cvBinomial(glmData, names, "yb",
        SgdNetParams(family = "binomial", nlambda = 3), nfolds = 4,
        foldCol = pmod(col("rid"), lit(5)))
    }
    assert(e2.getMessage.contains("fold index 4 outside [0, 4)"), e2.getMessage)
    // the regime the route exists for: the shared-pass CV holds
    // (nfolds+1)·p²/2 weighted-Gram doubles and refuses at the cap;
    // the batched screened CV returns its exact answers
    val prm0 = SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 3,
      thresh = 1e-9)
    val l0 = CvSgdNet.fit(glmData, names, Seq("yb"), prm0, nfolds = 4,
      foldCol = fold).paths.head.lambda(0)
    val prmS = SgdNetParams(family = "binomial", alpha = 1.0,
      lambda = Array(1.0, 0.75, 0.56).map(_ * l0), thresh = 1e-9,
      maxit = 100000)
    val ref = CvSgdNet.fit(glmData, names, Seq("yb"), prmS, nfolds = 4,
      foldCol = fold)
    val saved = SgdNet.maxGramP
    SgdNet.maxGramP = 16
    try {
      intercept[IllegalArgumentException] {
        CvSgdNet.fit(glmData, names, Seq("yb"), prmS, nfolds = 4,
          foldCol = fold)
      }
      assertSameCv(
        LargeP.cvBinomial(glmData, names, "yb", prmS, nfolds = 4,
          foldCol = fold), ref, 1e-6, "capped-glm-cv")
    } finally SgdNet.maxGramP = saved
  }

  test("weights and offset through the screened IRLS routes") {
    val wdata = glmData
      .withColumn("w", (pmod(col("rid") * 7, lit(3)) + lit(1)).cast("double"))
      .withColumn("off", col("x3") * 0.4 + col("x11") * 0.2)
    val prmB = SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 8,
      thresh = 1e-9, maxit = 100000)
    val prmP = SgdNetParams(family = "poisson", alpha = 1.0, nlambda = 8,
      thresh = 1e-9, maxit = 100000)
    // weighted == the full-Gram weighted IRLS routes
    assertSame(LargeP.fitBinomial(wdata, names, "yb", prmB, weightCol = "w"),
      SgdNet.fitWeighted(wdata, names, "yb", "w", prmB), 1e-6, "binom-w")
    assertSame(LargeP.fitPoisson(wdata, names, "yp", prmP, weightCol = "w"),
      SgdNet.fitWeighted(wdata, names, "yp", "w", prmP), 1e-6, "pois-w")
    // NON-CONSTANT offset == the full-Gram offset IRLS routes (null
    // Newton intercept, offset-corrected lambda path, z − off targets)
    assertSame(LargeP.fitBinomial(wdata, names, "yb", prmB, offsetCol = "off"),
      SgdNet.fitWithOffset(wdata, names, "yb", "off", prmB), 1e-6,
      "binom-off")
    assertSame(LargeP.fitPoisson(wdata, names, "yp", prmP, offsetCol = "off"),
      SgdNet.fitWithOffset(wdata, names, "yp", "off", prmP), 1e-6,
      "pois-off")
    // offset + weights together (the rate-model regime)
    assertSame(
      LargeP.fitBinomial(wdata, names, "yb", prmB, weightCol = "w",
        offsetCol = "off"),
      SgdNet.fitWithOffsetWeighted(wdata, names, "yb", "off", "w", prmB),
      1e-6, "binom-w-off")
    assertSame(
      LargeP.fitPoisson(wdata, names, "yp", prmP, weightCol = "w",
        offsetCol = "off"),
      SgdNet.fitWithOffsetWeighted(wdata, names, "yp", "off", "w", prmP),
      1e-6, "pois-w-off")
    // vn ≡ 1 runs the identical per-row arithmetic FORMS (1.0·x ≡ x);
    // only the aggregation tree's combine order differs (the weighted
    // wrapper's filter/map stage), so outputs agree to last-ulp sums
    val ones = wdata.withColumn("one", lit(1.0))
    val a = LargeP.fitBinomial(wdata, names, "yb", prmB)
    val b = LargeP.fitBinomial(ones, names, "yb", prmB, weightCol = "one")
    assert(a.lambda.length == b.lambda.length, "ones path length")
    for (l <- a.lambda.indices) {
      assert(math.abs(a.lambda(l) - b.lambda(l)) <= 1e-12 * a.lambda(l).abs,
        s"ones lambda($l)")
      assert(math.abs(a.a0(l)(0) - b.a0(l)(0)) < 1e-10, s"ones a0($l)")
      for (j <- 0 until p)
        assert(math.abs(a.beta(l)(0)(j) - b.beta(l)(0)(j)) < 1e-10,
          s"ones beta($l)($j)")
      assert(math.abs(a.devRatio(l) - b.devRatio(l)) < 1e-10, s"ones dr($l)")
    }
    // zero weights drop the row
    val wz = wdata.withColumn("w0",
      when(pmod(col("rid"), lit(5)) === 0, 0.0).otherwise(col("w")))
    assertSame(
      LargeP.fitBinomial(wz, names, "yb", prmB, weightCol = "w0"),
      LargeP.fitBinomial(wz.filter(col("w0") > 0), names, "yb", prmB,
        weightCol = "w0"), 1e-9, "binom-zero-weight-drop")
    ()
  }

  // ------------------------------------- wide lambda gaps (floored rule)

  test("wide lambda gaps and a lambda = 0 end == the full-Gram paths") {
    // λ_l < λ_{l-1}/2 makes the bare strong rule negative; the floored
    // bound must still give the exact full-Gram answer on every route
    val csr = data.select(col("y") +: names.map(col): _*)
      .withColumn("sidx", array((0 until p).map(lit): _*))
      .withColumn("svals", array(names.map(col): _*))
    val lmax = SgdNet.fit(data, names, "y",
      SgdNetParams(alpha = 1.0, nlambda = 3, thresh = 1e-9)).lambda(0)
    for (lams <- Seq(Array(1.0, 0.1), Array(1.0, 0.1, 0.0))) {
      val prm = SgdNetParams(alpha = 1.0, lambda = lams.map(_ * lmax),
        thresh = 1e-9, maxit = 100000)
      val tag = s"gaussian ${lams.mkString(",")}"
      assertSame(LargeP.fitGaussian(data, names, "y", prm),
        SgdNet.fit(data, names, "y", prm), 1e-7, s"dense $tag")
      assertSame(LargeP.fitSparseGaussian(csr, "sidx", "svals", p, "y", prm),
        SgdNet.fitSparse(csr, "sidx", "svals", p, "y", prm), 1e-7,
        s"sparse $tag")
    }
    val gcsr = glmData.select(col("yb") +: col("yp") +: names.map(col): _*)
      .withColumn("sidx", array((0 until p).map(lit): _*))
      .withColumn("svals", array(names.map(col): _*))
    for (fam <- Seq("binomial", "poisson")) {
      val y = if (fam == "binomial") "yb" else "yp"
      val l0 = SgdNet.fit(glmData, names, y, SgdNetParams(family = fam,
        alpha = 1.0, nlambda = 3, thresh = 1e-9)).lambda(0)
      for (lams <- Seq(Array(1.0, 0.1), Array(1.0, 0.1, 0.0))) {
        val prm = SgdNetParams(family = fam, alpha = 1.0,
          lambda = lams.map(_ * l0), thresh = 1e-9, maxit = 100000)
        val tag = s"$fam ${lams.mkString(",")}"
        val full = SgdNet.fitSparse(gcsr, "sidx", "svals", p, y, prm)
        assertSame(
          if (fam == "binomial")
            LargeP.fitSparseBinomial(gcsr, "sidx", "svals", p, y, prm)
          else LargeP.fitSparsePoisson(gcsr, "sidx", "svals", p, y, prm),
          full, 1e-6, s"sparse $tag")
        if (fam == "binomial")
          assertSame(LargeP.fitBinomial(glmData, names, y, prm),
            SgdNet.fit(glmData, names, y, prm), 1e-6, s"dense $tag")
      }
    }
  }

  /** Hashed bag-of-words rows over `dim` columns: planted columns 0, 1
    * and 2 (value 1, each in about half the rows) plus `noise` distinct
    * random columns per row (value 1–2); `y` linear and `yb` logistic
    * in the planted columns. Indices sorted and unique per row. */
  private def hashedRows(n: Int, dim: Int, noise: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val planted = (0 until 3).filter(_ => rnd.nextBoolean())
      val extra = scala.collection.mutable.TreeMap.empty[Int, Double]
      while (extra.size < noise)
        extra(3 + rnd.nextInt(dim - 3)) = 1.0 + rnd.nextDouble()
      val x = (j: Int) => if (planted.contains(j)) 1.0 else 0.0
      val y = 2.0 * x(0) - 1.5 * x(1) + x(2) + 0.5 * rnd.nextGaussian()
      val eta = 2.0 * x(0) - 2.0 * x(1) + 1.5 * x(2) - 0.75
      val yb = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) 1.0 else 0.0
      (i.toLong, planted ++ extra.keys, planted.map(_ => 1.0) ++ extra.values,
        y, yb)
    }.toDF("rid", "sidx", "svals", "y", "yb")
  }

  test("a 2-lambda ratio-0.1 path keeps E far below p") {
    // the bare rule α(2λ − λ_prev) is negative here and put all p
    // columns in E; the floor keeps E near the solution's support
    val dim = 1024
    val docs = hashedRows(2000, dim, 10, 71)
    val cap = new LargeP.GramCapture
    val prm = SgdNetParams(alpha = 1.0, nlambda = 2, lambdaMinRatio = 0.1)
    val m = LargeP.fitSparseGaussian(docs, "sidx", "svals", dim, "y", prm, cap)
    assert(cap.eIdx.length < dim / 4, s"|E| = ${cap.eIdx.length} of $dim")
    assert((0 until 3).forall(j => m.beta(1)(0)(j) != 0.0), "planted support")
  }

  test("a 2-lambda ratio-0.1 sparse binomial fit at p = 2^17 stays under maxGramP") {
    val dim = 1 << 17
    val docs = hashedRows(4000, dim, 10, 73)
    val m = LargeP.fitSparseBinomial(docs, "sidx", "svals", dim, "yb",
      SgdNetParams(family = "binomial", alpha = 1.0, nlambda = 2,
        lambdaMinRatio = 0.1))
    val nz = (0 until dim).count(m.beta(1)(0)(_) != 0.0)
    assert(nz >= 3 && nz < SgdNet.maxGramP / 100, s"nonzeros at the last lambda: $nz")
  }
}
