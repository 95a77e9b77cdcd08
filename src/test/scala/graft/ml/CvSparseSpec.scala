package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sparse-input cross-validation (round 15 — the cv.glmnet-with-
  * dgCMatrix surface): the sparse CV must reproduce the DENSE CV on
  * the same logical data under a shared fold expression, for every
  * routed family and measure — both the one-pass gaussian moments and
  * the shared sparse IRLS converge to the same fold models as their
  * dense twins. */
class CvSparseSpec extends SparkSpec {
  import spark.implicits._

  // sparse rows over 4 features + a stable row id for the shared fold;
  // ym is a 3-class label (multinomial), w an integer weight in 1..3
  private lazy val data = {
    val rnd = new scala.util.Random(17)
    (1 to 500).map { i =>
      val dense = Array.tabulate(4)(_ =>
        if (rnd.nextDouble() < 0.4) rnd.nextGaussian() else 0.0)
      val yg = 1.0 + dense(0) * 0.8 - dense(2) * 0.5 + rnd.nextGaussian() * 0.2
      val eta = -0.2 + dense(0) * 1.1 - dense(1) * 0.7
      val yb = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) 1.0 else 0.0
      val mu = math.exp(0.4 + dense(0) * 0.3)
      val yp = math.max(0L, math.round(mu + rnd.nextGaussian() * math.sqrt(mu))).toDouble
      val em = dense(0) * 0.9 - dense(3) * 0.6 + rnd.nextGaussian() * 0.5
      val ym = if (em < -0.4) "a" else if (em < 0.4) "b" else "c"
      val idx = dense.indices.filter(dense(_) != 0.0).toArray
      (i.toLong, idx, idx.map(dense), dense.toSeq, yg, yb, yp, ym,
        (i % 3 + 1).toDouble)
    }
  }
  private lazy val sp = data.map(r => (r._1, r._2, r._3, r._5, r._6, r._7, r._8, r._9))
    .toDF("rid", "idx", "vals", "yg", "yb", "yp", "ym", "w")
  private lazy val dn = data.map(r =>
      (r._1, r._4(0), r._4(1), r._4(2), r._4(3), r._5, r._6, r._7, r._8, r._9))
    .toDF("rid", "V0", "V1", "V2", "V3", "yg", "yb", "yp", "ym", "w")
  private val feats = (0 until 4).map(j => s"V$j")
  private def fold = pmod(xxhash64(col("rid")), lit(3))

  private def assertClose(a: CvSgdNet.CvPath, b: CvSgdNet.CvPath,
                          tol: Double, tag: String): Unit = {
    assert(a.lambda.sameElements(b.lambda), s"$tag lambda grid")
    for (l <- a.lambda.indices) {
      assert(math.abs(a.cvm(l) - b.cvm(l)) <
        tol * math.max(1.0, math.abs(b.cvm(l))), s"$tag cvm($l): ${a.cvm(l)} vs ${b.cvm(l)}")
      assert(math.abs(a.cvsd(l) - b.cvsd(l)) <
        tol * math.max(1.0, math.abs(b.cvsd(l))), s"$tag cvsd($l)")
    }
  }

  test("sparse gaussian CV == dense CV (mse, mae, alpha grid)") {
    val params = SgdNetParams(alpha = 0.5, lambda = Array(0.5, 0.1, 0.02),
      thresh = 1e-11, maxit = 100000)
    for (measure <- Seq("mse", "mae")) {
      val s = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yg", params,
        nfolds = 3, measure = measure, foldCol = fold)
      val d = CvSgdNet.fit(dn, feats, Seq("yg"), params,
        nfolds = 3, measure = measure, foldCol = fold)
      assertClose(s.best, d.best, 1e-8, s"gauss/$measure")
    }
    // alpha grid: one sparse-moment pass serves every alpha
    val grid = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yg", params,
      nfolds = 3, measure = "mse", foldCol = fold, alphas = Seq(0.0, 1.0))
    assert(grid.paths.size == 2)
    for ((a, i) <- Seq(0.0, 1.0).zipWithIndex) {
      val d = CvSgdNet.fit(dn, feats, Seq("yg"), params.copy(alpha = a),
        nfolds = 3, measure = "mse", foldCol = fold)
      assertClose(grid.paths(i), d.best, 1e-8, s"gauss/alpha=$a")
    }
  }

  test("sparse binomial CV == dense shared CV (deviance, class, auc)") {
    val params = SgdNetParams(family = "binomial",
      lambda = Array(0.05, 0.01, 0.002), thresh = 1e-9, maxit = 100000)
    for (measure <- Seq("deviance", "class", "auc")) {
      val s = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yb", params,
        nfolds = 3, measure = measure, foldCol = fold)
      val d = CvSgdNet.fit(dn, feats, Seq("yb"), params,
        nfolds = 3, measure = measure, foldCol = fold)
      assertClose(s.best, d.best, 1e-6, s"binom/$measure")
    }
  }

  test("sparse poisson CV == dense shared CV; contracts") {
    val params = SgdNetParams(family = "poisson",
      lambda = Array(0.1, 0.02), thresh = 1e-9, maxit = 100000)
    val s = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yp", params,
      nfolds = 3, measure = "deviance", foldCol = fold)
    val d = CvSgdNet.fit(dn, feats, Seq("yp"), params,
      nfolds = 3, measure = "deviance", foldCol = fold)
    assertClose(s.best, d.best, 1e-6, "poisson/deviance")
    // full-data model rides the passes: matches a standalone fitSparse
    val standalone = SgdNet.fitSparse(sp, "idx", "vals", 4, "yp", params)
    for (l <- 0 until 2; j <- 0 until 4)
      assert(math.abs(s.best.fit.beta(l)(0)(j) - standalone.beta(l)(0)(j)) < 1e-6,
        s"full-fit b($l)($j)")
    // auc off-binomial rejects (multinomial AND poisson)
    intercept[IllegalArgumentException] {
      CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yp",
        SgdNetParams(family = "poisson"), nfolds = 2, measure = "auc")
    }
    intercept[IllegalArgumentException] {
      CvSgdNet.fitSparse(sp, "idx", "vals", 4, "ym",
        SgdNetParams(family = "multinomial"), nfolds = 2, measure = "auc")
    }
    // unsupported family rejects
    intercept[IllegalArgumentException] {
      CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yg",
        SgdNetParams(family = "mgaussian"), nfolds = 2)
    }
    ()
  }

  test("sparse multinomial CV == dense shared CV (deviance, class; grouped)") {
    val params = SgdNetParams(family = "multinomial",
      lambda = Array(0.05, 0.01), thresh = 1e-7, maxit = 100000)
    for (measure <- Seq("deviance", "class")) {
      val s = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "ym", params,
        nfolds = 3, measure = measure, foldCol = fold)
      val d = CvSgdNet.fit(dn, feats, Seq("ym"), params,
        nfolds = 3, measure = measure, foldCol = fold)
      assertClose(s.best, d.best, 1e-6, s"multinom/$measure")
    }
    // grouped penalty routes through the same chassis
    val gp = params.copy(typeMultinomial = "grouped")
    val sg = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "ym", gp,
      nfolds = 3, measure = "deviance", foldCol = fold)
    val dg = CvSgdNet.fit(dn, feats, Seq("ym"), gp,
      nfolds = 3, measure = "deviance", foldCol = fold)
    assertClose(sg.best, dg.best, 1e-6, "multinom/grouped")
    // full-data model rides the passes: matches a standalone fitSparse
    val standalone = SgdNet.fitSparse(sp, "idx", "vals", 4, "ym", params)
    val cv = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "ym", params,
      nfolds = 3, measure = "deviance", foldCol = fold)
    for (l <- 0 until 2; t <- 0 until 3; j <- 0 until 4)
      assert(math.abs(cv.best.fit.beta(l)(t)(j) - standalone.beta(l)(t)(j)) < 1e-6,
        s"full-fit b($l)($t)($j)")
  }

  test("sparse CV + weights: unit == unweighted; dense-weighted parity") {
    // unit weights reproduce the unweighted run through the SAME code
    // path (every extra factor is exactly 1.0)
    val ones = sp.withColumn("one", lit(1.0))
    val pg = SgdNetParams(alpha = 0.5, lambda = Array(0.5, 0.1, 0.02),
      thresh = 1e-11, maxit = 100000)
    val su = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yg", pg,
      nfolds = 3, measure = "mse", foldCol = fold)
    val s1 = CvSgdNet.fitSparse(ones, "idx", "vals", 4, "yg", pg,
      nfolds = 3, measure = "mse", foldCol = fold, weightCol = "one")
    assertClose(s1.best, su.best, 1e-12, "gauss/unit-w")
    // v-weighted sparse == v-weighted dense, every routed family
    val sw = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yg", pg,
      nfolds = 3, measure = "mse", foldCol = fold, weightCol = "w")
    val dw = CvSgdNet.fitWeighted(dn, feats, "yg", "w", pg,
      nfolds = 3, measure = "mse", foldCol = fold)
    assertClose(sw.best, dw.best, 1e-8, "gauss/weighted")
    val pb = SgdNetParams(family = "binomial",
      lambda = Array(0.05, 0.01, 0.002), thresh = 1e-9, maxit = 100000)
    for (measure <- Seq("deviance", "auc")) {
      val sb = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yb", pb,
        nfolds = 3, measure = measure, foldCol = fold, weightCol = "w")
      val db = CvSgdNet.fitWeighted(dn, feats, "yb", "w", pb,
        nfolds = 3, measure = measure, foldCol = fold)
      assertClose(sb.best, db.best, 1e-6, s"binom/weighted/$measure")
    }
    val pm = SgdNetParams(family = "multinomial",
      lambda = Array(0.05, 0.01), thresh = 1e-7, maxit = 100000)
    val sm = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "ym", pm,
      nfolds = 3, measure = "deviance", foldCol = fold, weightCol = "w")
    val dm = CvSgdNet.fitWeightedMulti(dn, feats, Seq("ym"), "w", pm,
      nfolds = 3, measure = "deviance", foldCol = fold)
    assertClose(sm.best, dm.best, 1e-6, "multinom/weighted")
  }

  test("sparse mgaussian: fit and CV == dense twins (incl. weights)") {
    // second response for the multi-response cells
    val sp2 = sp.withColumn("yg2", col("yg") * 0.5 + col("yp"))
    val dn2 = dn.withColumn("yg2", col("yg") * 0.5 + col("yp"))
    val prm = SgdNetParams(family = "mgaussian", alpha = 0.8,
      lambda = Array(0.5, 0.1, 0.02), thresh = 1e-11, maxit = 100000)
    // fit parity
    val fs = SgdNet.fitSparseMulti(sp2, "idx", "vals", 4, Seq("yg", "yg2"), prm)
    val fd = SgdNet.fitMulti(dn2, feats, Seq("yg", "yg2"), prm)
    for (l <- 0 until 3; t <- 0 until 2; j <- 0 until 4)
      assert(math.abs(fs.beta(l)(t)(j) - fd.beta(l)(t)(j)) < 1e-9,
        s"fit b($l)($t)($j)")
    // CV parity (deviance == summed mse, and mae's extra pass)
    for (measure <- Seq("deviance", "mae")) {
      val s = CvSgdNet.fitSparseMulti(sp2, "idx", "vals", 4, Seq("yg", "yg2"),
        prm, nfolds = 3, measure = measure, foldCol = fold)
      val d = CvSgdNet.fit(dn2, feats, Seq("yg", "yg2"), prm,
        nfolds = 3, measure = measure, foldCol = fold)
      assertClose(s.best, d.best, 1e-8, s"mgauss/$measure")
    }
    // weighted sparse mgaussian CV == weighted dense mgaussian CV
    val sw = CvSgdNet.fitSparseMulti(sp2, "idx", "vals", 4, Seq("yg", "yg2"),
      prm, nfolds = 3, measure = "mse", foldCol = fold, weightCol = "w")
    val dw = CvSgdNet.fitWeightedMulti(dn2, feats, Seq("yg", "yg2"), "w",
      prm, nfolds = 3, measure = "mse", foldCol = fold)
    assertClose(sw.best, dw.best, 1e-8, "mgauss/weighted")
    // contracts: wrong family / multi-response via the 1-D entry reject
    intercept[IllegalArgumentException] {
      CvSgdNet.fitSparseMulti(sp2, "idx", "vals", 4, Seq("yg", "yg2"),
        SgdNetParams(family = "binomial"), nfolds = 2)
    }
    intercept[IllegalArgumentException] {
      SgdNet.fitSparseMulti(sp2, "idx", "vals", 4, Seq("yg", "yg2"),
        SgdNetParams(family = "gaussian"))
    }
    ()
  }

  test("sparse CV integer weights == row duplication; zero weight drops") {
    // integer weight w ≡ the row repeated w times (same rid → same fold)
    val exploded = sp.withColumn("__rep", explode(
      sequence(lit(1), col("w").cast("int"))))
    val pg = SgdNetParams(alpha = 0.0, lambda = Array(1.0, 0.1),
      thresh = 1e-11, maxit = 100000)
    val sw = CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yg", pg,
      nfolds = 3, measure = "mse", foldCol = fold, weightCol = "w")
    val sd = CvSgdNet.fitSparse(exploded, "idx", "vals", 4, "yg", pg,
      nfolds = 3, measure = "mse", foldCol = fold)
    // duplication changes n (and so the per-fold sum-to-n renorm is the
    // identity on both sides at integer weights): curves must agree
    assertClose(sw.best, sd.best, 1e-9, "gauss/duplication")
    // w == 0 drops the row entirely: same result as filtering it out
    val zeroed = sp.withColumn("wz",
      when(col("rid") % 7 === 0, 0.0).otherwise(col("w")))
    val sz = CvSgdNet.fitSparse(zeroed, "idx", "vals", 4, "yg", pg,
      nfolds = 3, measure = "mse", foldCol = fold, weightCol = "wz")
    val sf = CvSgdNet.fitSparse(zeroed.filter(col("rid") % 7 =!= 0),
      "idx", "vals", 4, "yg", pg,
      nfolds = 3, measure = "mse", foldCol = fold, weightCol = "wz")
    assertClose(sz.best, sf.best, 1e-12, "gauss/zero-drop")
    // negative weights reject
    intercept[org.apache.spark.SparkException] {
      CvSgdNet.fitSparse(sp.withColumn("neg", lit(-1.0)),
        "idx", "vals", 4, "yg", pg, nfolds = 3, measure = "mse",
        foldCol = fold, weightCol = "neg")
    }
    ()
  }

  test("binomial/poisson CV with penalty-factor zeros and no lambda: " +
    "full-data path == SgdNet.fit / fitSparse") {
    for ((fam, label) <- Seq("binomial" -> "yb", "poisson" -> "yp")) {
      val params = SgdNetParams(family = fam, nlambda = 4,
        penaltyFactor = Array(0.0, 1.0, 1.0, 1.0), thresh = 1e-9, maxit = 100000)
      val dense = CvSgdNet.fit(dn, feats, Seq(label), params, nfolds = 3,
        foldCol = fold).best.fit.lambda
      val sparse = CvSgdNet.fitSparse(sp, "idx", "vals", 4, label, params,
        nfolds = 3, foldCol = fold).best.fit.lambda
      // the fold moments merge in a different order than one fit's
      // moments, so the grids agree to round-off, not bitwise
      for ((cv, single, tag) <- Seq(
          (dense, SgdNet.fit(dn, feats, label, params).lambda, "dense"),
          (sparse, SgdNet.fitSparse(sp, "idx", "vals", 4, label, params).lambda, "sparse"))) {
        assert(cv.length == single.length, s"$fam/$tag path length")
        for (l <- cv.indices)
          assert(math.abs(cv(l) - single(l)) <= 1e-9 * single(l),
            s"$fam/$tag lambda($l): cv ${cv(l)} vs fit ${single(l)}")
      }
    }
  }

  test("binomial CV fails when a train fold holds one class " +
    "(fit, fitWeighted, fitSparse)") {
    // every positive row sits in fold 0, so fold 0's train set is all
    // negatives
    val oneClass = when(col("yb") === 1.0, lit(0))
      .otherwise(lit(1) + pmod(xxhash64(col("rid")), lit(2)))
    val params = SgdNetParams(family = "binomial", nlambda = 3)
    val calls: Seq[(String, () => Any)] = Seq(
      "fit" -> (() => CvSgdNet.fit(dn, feats, Seq("yb"), params, nfolds = 3,
        foldCol = oneClass)),
      "fitWeighted" -> (() => CvSgdNet.fitWeighted(dn, feats, "yb", "w",
        params, nfolds = 3, foldCol = oneClass)),
      "fitSparse" -> (() => CvSgdNet.fitSparse(sp, "idx", "vals", 4, "yb",
        params, nfolds = 3, foldCol = oneClass)))
    for ((tag, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("both classes in every train fold"),
        s"$tag: ${e.getMessage}")
    }
  }
}
