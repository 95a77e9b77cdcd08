package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A fitted regularization path — the Spark analogue of the reference's
  * `sgdnet` S3 object (R/sgdnet.R return value: a0, beta, nulldev,
  * dev.ratio, df, dfmat, alpha, lambda, nobs, npasses).
  *
  * Coefficients are on the ORIGINAL feature scale. `classLabels` is empty
  * for gaussian/mgaussian; for binomial it holds the two sorted class
  * labels (coefficients model P(class == classLabels(1))); for
  * multinomial one coefficient vector per class.
  */
final class SgdNetModel(
    val family: String,
    val featureNames: Array[String],
    val responseNames: Array[String],
    val classLabels: Array[String],
    val lambda: Array[Double],
    val a0: Array[Array[Double]],            // [L][K]
    val beta: Array[Array[Array[Double]]],   // [L][K][p]
    val nulldev: Double,
    val devRatio: Array[Double],
    val nobs: Long,
    val npasses: Int,
    val params: SgdNetParams) extends Serializable {

  def nLambda: Int = lambda.length
  def nFeatures: Int = featureNames.length
  def nResponses: Int = if (a0.isEmpty) 0 else a0(0).length

  /** Number of nonzero coefficients per lambda; for multivariate families a
    * feature counts if ANY response/class uses it (reference `df` field). */
  def df: Array[Int] = beta.map { bl =>
    (0 until nFeatures).count(j => bl.exists(bt => bt(j) != 0.0))
  }

  /** [L][K] nonzero count per class/response (reference `dfmat`). */
  def dfMat: Array[Array[Int]] = beta.map(_.map(_.count(_ != 0.0)))

  /** deviance(fit) = (1 - dev.ratio) * nulldev (reference R/deviance.sgdnet.R). */
  def deviance: Array[Double] = devRatio.map(r => (1.0 - r) * nulldev)

  // ---------------------------------------------------------- interpolation

  /** Coefficients at arbitrary penalty `s` by linear interpolation between
    * adjacent path points (reference R/utils.R lambda_interpolate /
    * interpolate_coefficients). */
  def atLambda(s: Double): (Array[Double], Array[Array[Double]]) = {
    val L = lambda.length
    if (L == 1) return (a0(0), beta(0))
    val sc = math.min(math.max(s, lambda.min), lambda.max)
    // lambda is descending
    var right = lambda.indexWhere(_ <= sc)
    if (right <= 0) right = if (lambda(0) <= sc) 0 else L - 1
    val left = math.max(right - 1, 0)
    val frac =
      if (left == right || lambda(left) == lambda(right)) 1.0
      else (sc - lambda(right)) / (lambda(left) - lambda(right))
    val ia0 = Array.tabulate(nResponses)(t => frac * a0(left)(t) + (1 - frac) * a0(right)(t))
    val ib = Array.tabulate(nResponses, nFeatures)((t, j) =>
      frac * beta(left)(t)(j) + (1 - frac) * beta(right)(t)(j))
    (ia0, ib)
  }

  // -------------------------------------------------------------- predict

  /** Linear predictor as a codegen-friendly Column: a0 + sum_j beta_j * x_j.
    * The coefficient table is tiny driver state folded into the plan as
    * literals — no UDF, no shuffle; whole-stage codegen applies. */
  def linkCol(lambdaIdx: Int, response: Int = 0): Column =
    linkColFor(a0(lambdaIdx)(response), beta(lambdaIdx)(response))

  /** Linear predictor for explicit (a0, beta) — e.g. interpolated
    * coefficients from [[atLambda]]. */
  def linkColFor(a0v: Double, betaV: Array[Double]): Column =
    featureNames.zipWithIndex.foldLeft(lit(a0v)) {
      case (acc, (f, j)) =>
        val w = betaV(j)
        if (w == 0.0) acc else acc + col(f) * lit(w)
    }

  def responseCol(lambdaIdx: Int, response: Int = 0): Column =
    responseColFor(a0(lambdaIdx), beta(lambdaIdx), response)

  /** Response-scale prediction for explicit coefficients (all responses —
    * multinomial softmax needs every class's linear predictor), e.g.
    * interpolated output of [[atLambda]]. */
  def responseColFor(a0v: Array[Double], betaV: Array[Array[Double]],
                     response: Int = 0): Column = family match {
    case "poisson" => exp(linkColFor(a0v(response), betaV(response)))
    case "binomial" =>
      val eta = linkColFor(a0v(response), betaV(response))
      lit(1.0) / (lit(1.0) + exp(-eta))
    case "multinomial" =>
      val etas = (0 until nResponses).map(t => exp(linkColFor(a0v(t), betaV(t))))
      val z = etas.reduce(_ + _)
      exp(linkColFor(a0v(response), betaV(response))) / z
    case _ => linkColFor(a0v(response), betaV(response))
  }

  /** Per-row DEVIANCE residuals (the glm residuals(fit, "deviance")
    * analogue): gaussian y − μ; binomial sign(y − μ)·√(−2(y·ln μ +
    * (1−y)·ln(1−μ))) for y ∈ {0,1}; poisson sign(y − μ)·√(2(y·ln(y/μ)
    * − (y − μ))) with the y = 0 limit. Squared residuals sum to the
    * model deviance (spec-verified), so the column supports
    * distributed outlier audits without a collect. */
  def devResidCol(yCol: Column, lambdaIdx: Int, response: Int = 0): Column =
    family match {
      case "gaussian" | "mgaussian" => yCol - linkCol(lambdaIdx, response)
      case "binomial" =>
        val mu = responseCol(lambdaIdx, response)
        val y = yCol.cast("double")
        val unit = when(y > 0.5, -log(mu)).otherwise(-log(lit(1.0) - mu))
        signum(y - mu) * sqrt(lit(2.0) * unit)
      case "poisson" =>
        val mu = responseCol(lambdaIdx, response)
        val y = yCol.cast("double")
        val term = when(y > 0, y * log(y / mu)).otherwise(lit(0.0)) - (y - mu)
        signum(y - mu) * sqrt(lit(2.0) * term)
      case f => throw new IllegalArgumentException(
        s"deviance residuals undefined for $f")
    }

  /** predict(type="class") for binomial/multinomial as a Column. */
  def classCol(lambdaIdx: Int): Column = classColFor(a0(lambdaIdx), beta(lambdaIdx))

  /** Class prediction for explicit coefficients (e.g. interpolated). */
  def classColFor(a0v: Array[Double], betaV: Array[Array[Double]]): Column = family match {
    case "binomial" =>
      when(responseColFor(a0v, betaV) > 0.5, lit(classLabels(1))).otherwise(lit(classLabels(0)))
    case "multinomial" =>
      // argmax over class linear predictors
      val struct0 = (0 until nResponses).map { t =>
        struct(linkColFor(a0v(t), betaV(t)).as("eta"), lit(classLabels(t)).as("cls"))
      }
      greatest(struct0: _*).getField("cls")
    case f => throw new IllegalArgumentException(s"class prediction undefined for $f")
  }

  /** Prediction column at EXPLICIT (a0, beta) — e.g. interpolated
    * [[atLambda]] output — with an optional per-row offset (glmnet
    * `newoffset`) and an optional CSR (indices, values) route (sparse
    * newx). This is the shared algebra behind [[predictWithOffset]],
    * [[predictSparse]] and the CV layer's `predictAt` delegations
    * (round 18 — reference analogue R/predict.cv_sgdnet.R forwarding
    * newoffset / dgCMatrix newx to predict.sgdnet). Pure Column
    * composition: coefficients fold in as literals, the offset is one
    * more codegen'd term, the sparse route rides the codegen
    * `graft_sparse_dot` — no UDF anywhere. */
  def predColFor(spark: SparkSession, tpe: String,
                 a0v: Array[Double], betaV: Array[Array[Double]],
                 offsetCols: Seq[String] = Nil,
                 sparseCols: Option[(String, String)] = None): Column = {
    val multi = family == "multinomial" || family == "mgaussian"
    if (offsetCols.nonEmpty)
      require(if (multi) offsetCols.size == nResponses
              else offsetCols.size == 1,
        s"newoffset needs ${if (multi) s"$nResponses columns (one per class/response)"
          else "exactly one column"} for $family, got ${offsetCols.size}")
    val offs = offsetCols.map(c => col(c).cast("double"))
    def rawEta(t: Int): Column = sparseCols match {
      case Some((i, v)) => sparseLinkColFor(spark, i, v, a0v(t), betaV(t))
      case None         => linkColFor(a0v(t), betaV(t))
    }
    def eta(t: Int): Column =
      if (offs.isEmpty) rawEta(t) else rawEta(t) + offs(if (multi) t else 0)
    tpe match {
      case "link" => eta(0)
      case "response" => family match {
        case "poisson"  => exp(eta(0))
        case "binomial" => lit(1.0) / (lit(1.0) + exp(-eta(0)))
        case "multinomial" =>
          val z = (0 until nResponses).map(t => exp(eta(t))).reduce(_ + _)
          exp(eta(0)) / z
        case _ => eta(0)
      }
      case "class" => family match {
        case "binomial" =>
          when(lit(1.0) / (lit(1.0) + exp(-eta(0))) > 0.5,
            lit(classLabels(1))).otherwise(lit(classLabels(0)))
        case "multinomial" =>
          val structs = (0 until nResponses).map(t =>
            struct(eta(t).as("eta"), lit(classLabels(t)).as("cls")))
          greatest(structs: _*).getField("cls")
        case f => throw new IllegalArgumentException(
          s"class prediction undefined for $f")
      }
      case t => throw new IllegalArgumentException(s"unknown predict type: $t")
    }
  }

  /** predict(df, type): appends one prediction column per requested lambda
    * index. Types: link | response | class. */
  def predict(df: DataFrame, tpe: String = "link",
              lambdaIdxs: Seq[Int] = Seq.empty): DataFrame = {
    val idxs = if (lambdaIdxs.nonEmpty) lambdaIdxs else lambda.indices
    idxs.foldLeft(df) { (d, l) =>
      val c = tpe match {
        case "link"     => linkCol(l)
        case "response" => responseCol(l)
        case "class"    => classCol(l)
        case t => throw new IllegalArgumentException(s"unknown predict type: $t")
      }
      d.withColumn(s"pred_$l", c)
    }
  }

  /** predict with glmnet `newoffset` (round 16): a model fit with an
    * offset must be scored with one (R predict.glmnet requires
    * newoffset when the fit used offset) — the per-row offset adds to
    * every linear predictor BEFORE the inverse link / argmax.
    * Single-response families take one offset column; multinomial and
    * mgaussian take one per class/response (sorted-label /
    * `responseNames` order). Pure Column composition — the offset is
    * one more codegen'd term, no UDF. */
  def predictWithOffset(df: DataFrame, offsetCols: Seq[String],
                        tpe: String = "link",
                        lambdaIdxs: Seq[Int] = Seq.empty): DataFrame = {
    val multi = family == "multinomial" || family == "mgaussian"
    require(if (multi) offsetCols.size == nResponses else offsetCols.size == 1,
      s"newoffset needs ${if (multi) s"$nResponses columns (one per class/response)"
        else "exactly one column"} for $family, got ${offsetCols.size}")
    val offs = offsetCols.map(c => col(c).cast("double"))
    def eta(l: Int, t: Int): Column = linkCol(l, t) + offs(if (multi) t else 0)
    val idxs = if (lambdaIdxs.nonEmpty) lambdaIdxs else lambda.indices
    idxs.foldLeft(df) { (d, l) =>
      val c = tpe match {
        case "link" => eta(l, 0)
        case "response" => family match {
          case "poisson"  => exp(eta(l, 0))
          case "binomial" => lit(1.0) / (lit(1.0) + exp(-eta(l, 0)))
          case "multinomial" =>
            val z = (0 until nResponses).map(t => exp(eta(l, t))).reduce(_ + _)
            exp(eta(l, 0)) / z
          case _ => eta(l, 0)
        }
        case "class" => family match {
          case "binomial" =>
            when(lit(1.0) / (lit(1.0) + exp(-eta(l, 0))) > 0.5,
              lit(classLabels(1))).otherwise(lit(classLabels(0)))
          case "multinomial" =>
            val structs = (0 until nResponses).map(t =>
              struct(eta(l, t).as("eta"), lit(classLabels(t)).as("cls")))
            greatest(structs: _*).getField("cls")
          case f => throw new IllegalArgumentException(
            s"class prediction undefined for $f")
        }
        case t => throw new IllegalArgumentException(s"unknown predict type: $t")
      }
      d.withColumn(s"pred_$l", c)
    }
  }

  // --------------------------------------------------------- sparse predict

  /** Linear predictor over CSR (indices, values) rows — sparse predict
    * (the reference scores dgCMatrix newx, R/predict.sgdnet.R). The
    * codegen `graft_sparse_dot` expression walks only each row's
    * nonzeros against the coefficient array folded into the plan as a
    * literal: O(nnz) per row, the matrix is never densified. Feature j
    * of the sparse fit corresponds to index j in `indices`. */
  def sparseLinkColFor(spark: SparkSession, idxCol: String, valCol: String,
                       a0v: Double, betaV: Array[Double]): Column =
    lit(a0v) + graft.functions.GraftFunctions.sparseDot(spark,
      col(idxCol).cast("array<int>"), col(valCol).cast("array<double>"),
      typedlit(betaV.toSeq))

  def sparseLinkCol(spark: SparkSession, idxCol: String, valCol: String,
                    lambdaIdx: Int, response: Int = 0): Column =
    sparseLinkColFor(spark, idxCol, valCol, a0(lambdaIdx)(response),
      beta(lambdaIdx)(response))

  /** Response-scale sparse prediction (same family semantics as
    * [[responseColFor]]). */
  def sparseResponseCol(spark: SparkSession, idxCol: String, valCol: String,
                        lambdaIdx: Int, response: Int = 0): Column = {
    def eta(t: Int): Column =
      sparseLinkColFor(spark, idxCol, valCol, a0(lambdaIdx)(t), beta(lambdaIdx)(t))
    family match {
      case "poisson"  => exp(eta(response))
      case "binomial" => lit(1.0) / (lit(1.0) + exp(-eta(response)))
      case "multinomial" =>
        val z = (0 until nResponses).map(t => exp(eta(t))).reduce(_ + _)
        exp(eta(response)) / z
      case _ => eta(response)
    }
  }

  /** predict(type="class") over sparse rows. */
  def sparseClassCol(spark: SparkSession, idxCol: String, valCol: String,
                     lambdaIdx: Int): Column = family match {
    case "binomial" =>
      when(sparseResponseCol(spark, idxCol, valCol, lambdaIdx) > 0.5,
        lit(classLabels(1))).otherwise(lit(classLabels(0)))
    case "multinomial" =>
      val structs = (0 until nResponses).map { t =>
        struct(sparseLinkColFor(spark, idxCol, valCol,
          a0(lambdaIdx)(t), beta(lambdaIdx)(t)).as("eta"),
          lit(classLabels(t)).as("cls"))
      }
      greatest(structs: _*).getField("cls")
    case f => throw new IllegalArgumentException(s"class prediction undefined for $f")
  }

  /** predict over CSR (indices, values) rows: appends one prediction
    * column per requested lambda index — the sparse twin of [[predict]],
    * so sparse-fit models score sparse data without densifying. */
  def predictSparse(df: DataFrame, idxCol: String, valCol: String,
                    tpe: String = "link",
                    lambdaIdxs: Seq[Int] = Seq.empty): DataFrame = {
    val spark = df.sparkSession
    val idxs = if (lambdaIdxs.nonEmpty) lambdaIdxs else lambda.indices
    idxs.foldLeft(df) { (d, l) =>
      val c = tpe match {
        case "link"     => sparseLinkCol(spark, idxCol, valCol, l)
        case "response" => sparseResponseCol(spark, idxCol, valCol, l)
        case "class"    => sparseClassCol(spark, idxCol, valCol, l)
        case t => throw new IllegalArgumentException(s"unknown predict type: $t")
      }
      d.withColumn(s"pred_$l", c)
    }
  }

  // ------------------------------------------------------------- coef frame

  /** Long-format coefficient path (the data behind the reference's
    * plot.sgdnet coefficient-path plot and coef()/predict(type=
    * "coefficients")). */
  def coefDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = for {
      l <- lambda.indices
      t <- 0 until nResponses
      resp = if (classLabels.nonEmpty) classLabels(math.min(t, classLabels.length - 1))
             else responseNames(math.min(t, responseNames.length - 1))
      (term, value) <- ("(Intercept)", a0(l)(t)) +:
        featureNames.toSeq.zipWithIndex.map { case (f, j) => (f, beta(l)(t)(j)) }
    } yield (l, lambda(l), resp, term, value)
    rows.toSeq.toDF("lambda_idx", "lambda", "response", "term", "value")
  }

  /** predict(type="nonzero"): features with any nonzero coef per lambda. */
  def nonzeroDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = for {
      l <- lambda.indices
      j <- 0 until nFeatures
      if beta(l).exists(bt => bt(j) != 0.0)
    } yield (l, featureNames(j))
    rows.toSeq.toDF("lambda_idx", "term")
  }

  /** The printed path summary (reference print.sgdnet): df, %dev, lambda. */
  def summaryDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val d = df
    lambda.indices.map(l => (l, d(l), devRatio(l), lambda(l)))
      .toDF("lambda_idx", "df", "dev_ratio", "lambda")
  }

  // ----------------------------------------------------------------- score

  /** score(fit, x, y, type.measure) (reference R/score.R) as a distributed
    * aggregation — no collect of row data. Returns one row per lambda. */
  def score(df: DataFrame, measure: String, lambdaIdxs: Seq[Int] = Seq.empty): DataFrame = {
    val idxs = if (lambdaIdxs.nonEmpty) lambdaIdxs else lambda.indices
    val spark = df.sparkSession
    import spark.implicits._
    val label = col(responseNames(0))
    val aggs: Seq[(Int, Column)] = idxs.map { l =>
      (family, measure) match {
        // gaussian: deviance == mse (reference score.R:21-24)
        case ("gaussian", "mse" | "deviance") =>
          l -> avg(pow(label - linkCol(l), 2))
        case ("gaussian", "mae") =>
          l -> avg(abs(label - linkCol(l)))
        // mgaussian: per-row error SUMMED over responses, averaged over
        // rows (scoreAt's convention; reference score.sgdnet_mgaussian
        // R/score.R:163-180 sums the same squared/absolute errors — we
        // normalize per sample like every other family so CV fold scores
        // are size-invariant)
        case ("mgaussian", ms @ ("mse" | "deviance" | "mae")) =>
          val terms = (0 until nResponses).map { t =>
            val d = col(responseNames(t)).cast("double") - linkCol(l, t)
            if (ms == "mae") abs(d) else pow(d, 2)
          }
          l -> avg(terms.reduce(_ + _))
        // binomial measures on the one-hot encoding (score.R:44-62):
        // mse/mae double-count both classes; deviance is clamped log-loss
        case ("binomial", "deviance") =>
          val y = (label.cast("string") === lit(classLabels(1))).cast("double")
          val pc = least(greatest(responseCol(l), lit(1e-5)), lit(1.0 - 1e-5))
          l -> avg(lit(-2.0) * (y * log(pc) + (lit(1.0) - y) * log(lit(1.0) - pc)))
        case ("binomial", "mse") =>
          val y = (label.cast("string") === lit(classLabels(1))).cast("double")
          l -> avg(lit(2.0) * pow(responseCol(l) - y, 2))
        case ("binomial", "mae") =>
          val y = (label.cast("string") === lit(classLabels(1))).cast("double")
          l -> avg(lit(2.0) * abs(responseCol(l) - y))
        case ("multinomial", "deviance") =>
          val y = label.cast("string")
          val terms = (0 until nResponses).map { t =>
            val pt = least(greatest(responseCol(l, t), lit(1e-5)), lit(1.0 - 1e-5))
            when(y === lit(classLabels(t)), lit(-2.0) * log(pt)).otherwise(lit(0.0))
          }
          l -> avg(terms.reduce(_ + _))
        case ("binomial" | "multinomial", "class") =>
          l -> avg(when(classCol(l) === label.cast("string"), 0.0).otherwise(1.0))
        case (f, m) =>
          throw new IllegalArgumentException(s"unsupported measure $m for family $f")
      }
    }
    val row = df.agg(aggs.head._2.as(s"m_${aggs.head._1}"),
      aggs.tail.map { case (l, c) => c.as(s"m_$l") }: _*)
    // unpivot to (lambda_idx, score)
    val vals = row.collect()(0)
    idxs.zipWithIndex.map { case (l, i) => (l, lambda(l), vals.getDouble(i)) }
      .toDF("lambda_idx", "lambda", "score")
  }

  /** score() at an ARBITRARY penalty `s` (interpolated off-path like
    * predict's `s` argument) — the primitive behind score.cv_sgdnet
    * (reference R/score.R:182-201). One aggregation (or one rank pass
    * for auc); returns the scalar score. */
  def scoreAt(df: DataFrame, measure: String, s: Double): Double = {
    val (a0v, betaV) = atLambda(s)
    val label = col(responseNames(0))
    (family, measure) match {
      case ("gaussian", "mse" | "deviance") =>
        df.agg(avg(pow(label - linkColFor(a0v(0), betaV(0)), 2))).head().getDouble(0)
      case ("gaussian", "mae") =>
        df.agg(avg(abs(label - linkColFor(a0v(0), betaV(0))))).head().getDouble(0)
      case ("mgaussian", ms @ ("mse" | "deviance" | "mae")) =>
        val terms = (0 until nResponses).map { t =>
          val d = col(responseNames(t)).cast("double") - linkColFor(a0v(t), betaV(t))
          if (ms == "mae") abs(d) else pow(d, 2)
        }
        df.agg(avg(terms.reduce(_ + _))).head().getDouble(0)
      case ("binomial", "deviance") =>
        val y = (label.cast("string") === lit(classLabels(1))).cast("double")
        val pc = least(greatest(responseColFor(a0v, betaV), lit(1e-5)), lit(1.0 - 1e-5))
        df.agg(avg(lit(-2.0) * (y * log(pc) + (lit(1.0) - y) * log(lit(1.0) - pc))))
          .head().getDouble(0)
      case ("binomial", "mse") =>
        val y = (label.cast("string") === lit(classLabels(1))).cast("double")
        df.agg(avg(lit(2.0) * pow(responseColFor(a0v, betaV) - y, 2))).head().getDouble(0)
      case ("binomial", "mae") =>
        val y = (label.cast("string") === lit(classLabels(1))).cast("double")
        df.agg(avg(lit(2.0) * abs(responseColFor(a0v, betaV) - y))).head().getDouble(0)
      case ("binomial" | "multinomial", "class") =>
        df.agg(avg((classColFor(a0v, betaV) =!= label.cast("string")).cast("double")))
          .head().getDouble(0)
      case ("binomial", "auc") =>
        val y = (label.cast("string") === lit(classLabels(1))).cast("double")
        SgdNetModel.aucOf(
          df.select(responseColFor(a0v, betaV).as("s"), y.as("y")), "s", "y")
      case ("multinomial", ms @ ("mse" | "mae")) =>
        val y = label.cast("string")
        val terms = (0 until nResponses).map { t =>
          val d = responseColFor(a0v, betaV, t) -
            when(y === lit(classLabels(t)), 1.0).otherwise(0.0)
          if (ms == "mae") abs(d) else pow(d, 2)
        }
        df.agg(avg(terms.reduce(_ + _))).head().getDouble(0)
      case ("multinomial", "deviance") =>
        val y = label.cast("string")
        val terms = (0 until nResponses).map { t =>
          val pt = least(greatest(responseColFor(a0v, betaV, t), lit(1e-5)),
            lit(1.0 - 1e-5))
          when(y === lit(classLabels(t)), lit(-2.0) * log(pt)).otherwise(lit(0.0))
        }
        df.agg(avg(terms.reduce(_ + _))).head().getDouble(0)
      case (f, ms) =>
        throw new IllegalArgumentException(s"unsupported measure $ms for family $f")
    }
  }

  /** Distributed AUC via the rank-sum (Mann–Whitney) statistic: ties get
    * average ranks. One sort-shuffle over scores; no driver collection of
    * rows (reference R/utils.R auc does this in memory). */
  def aucScore(df: DataFrame, lambdaIdx: Int): Double = {
    require(family == "binomial", "auc requires the binomial family")
    val spark = df.sparkSession
    val label = col(responseNames(0)).cast("string") === lit(classLabels(1))
    val scored = df.select(responseCol(lambdaIdx).as("s"), label.cast("double").as("y"))
    SgdNetModel.aucOf(scored, "s", "y")
  }

  // ----------------------------------------------------------- persistence

  /** Persist the fitted path to `path` (parquet-backed): the reference
    * gets restorable fits for free via `saveRDS`; Spark users fit once
    * and score elsewhere, so the model must leave the session.
    * Layout: `<path>/meta` (one-row frame of everything scalar/array) +
    * `<path>/coef` ((lambda_idx, response_idx, a0, beta) rows). Restored
    * by [[SgdNetModel.load]] — predictions are bit-identical (the
    * coefficient doubles round-trip exactly through parquet).
    * `overwrite = false` fails on an existing path instead of silently
    * clobbering it (the MLlib writer convention). The existence check
    * runs ONCE against the root path before anything is written, so a
    * refused save never leaves a half-written directory. */
  def save(spark: SparkSession, path: String,
           overwrite: Boolean = true): Unit = {
    import spark.implicits._
    SgdNetModel.checkOverwrite(spark, path, overwrite)
    val coefRows = for { l <- lambda.indices; t <- 0 until nResponses }
      yield (l, t, a0(l)(t), beta(l)(t).toSeq)
    coefRows.toDF("lambda_idx", "response_idx", "a0", "beta")
      .repartition(1).write.mode("overwrite").parquet(s"$path/coef")
    Seq((family, featureNames.toSeq, responseNames.toSeq, classLabels.toSeq,
        lambda.toSeq, nulldev, devRatio.toSeq, nobs, npasses,
        params.family, params.alpha, params.nlambda, params.lambdaMinRatio,
        Option(params.lambda).map(_.toSeq), params.standardize,
        params.intercept, params.thresh, params.maxit,
        params.standardizeResponse, params.typeMultinomial))
      .toDF("family", "feature_names", "response_names", "class_labels",
        "lambda", "nulldev", "dev_ratio", "nobs", "npasses",
        "p_family", "p_alpha", "p_nlambda", "p_lambda_min_ratio",
        "p_lambda", "p_standardize", "p_intercept", "p_thresh", "p_maxit",
        "p_standardize_response", "p_type_multinomial")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }
}

object SgdNetModel {

  /** dev.ratio = 1 − dev / nulldev, floored at 0 (and 0 when the null
    * deviance is). β = 0 is feasible at every λ (box limits must
    * straddle 0) and every path starts from the null model, so a fitted
    * deviance never exceeds the null one: a negative ratio can only be
    * round-off between two ways of computing one deviance (−6.9e-13
    * binomial and −2.9e-13 multinomial were seen at λ max). */
  private[ml] def devRatio(dev: Double, nulldev: Double): Double =
    if (nulldev > 0) math.max(0.0, 1.0 - dev / nulldev) else 0.0

  /** One root-path existence check (the MLlib writer convention):
    * refuse BEFORE anything is written, so a failed save never leaves
    * a partially updated directory. */
  private[ml] def checkOverwrite(spark: SparkSession, path: String,
                                 overwrite: Boolean): Unit =
    if (!overwrite) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) throw new IllegalArgumentException(
        s"path $path already exists (use overwrite = true to replace it)")
    }

  /** Restore a path model persisted by [[SgdNetModel!.save]]. */
  def load(spark: SparkSession, path: String): SgdNetModel = {
    val m = spark.read.parquet(s"$path/meta").head()
    val featureNames = m.getSeq[String](m.fieldIndex("feature_names")).toArray
    val lambdaArr = m.getSeq[Double](m.fieldIndex("lambda")).toArray
    val params = SgdNetParams(
      family = m.getString(m.fieldIndex("p_family")),
      alpha = m.getDouble(m.fieldIndex("p_alpha")),
      nlambda = m.getInt(m.fieldIndex("p_nlambda")),
      lambdaMinRatio = m.getDouble(m.fieldIndex("p_lambda_min_ratio")),
      lambda =
        if (m.isNullAt(m.fieldIndex("p_lambda"))) null
        else m.getSeq[Double](m.fieldIndex("p_lambda")).toArray,
      standardize = m.getBoolean(m.fieldIndex("p_standardize")),
      intercept = m.getBoolean(m.fieldIndex("p_intercept")),
      thresh = m.getDouble(m.fieldIndex("p_thresh")),
      maxit = m.getInt(m.fieldIndex("p_maxit")),
      standardizeResponse = m.getBoolean(m.fieldIndex("p_standardize_response")),
      typeMultinomial = m.getString(m.fieldIndex("p_type_multinomial")))
    val coefs = spark.read.parquet(s"$path/coef")
      .select(col("lambda_idx").cast("int"), col("response_idx").cast("int"),
        col("a0").cast("double"), col("beta").cast("array<double>"))
      .collect()
    val L = lambdaArr.length
    val k = if (coefs.isEmpty) 0 else coefs.map(_.getInt(1)).max + 1
    val p = featureNames.length
    val a0 = Array.ofDim[Double](L, k)
    val beta = Array.ofDim[Double](L, k, p)
    coefs.foreach { r =>
      val l = r.getInt(0); val t = r.getInt(1)
      a0(l)(t) = r.getDouble(2)
      val b = r.getSeq[Double](3)
      var j = 0
      while (j < p) { beta(l)(t)(j) = b(j); j += 1 }
    }
    new SgdNetModel(
      family = m.getString(m.fieldIndex("family")),
      featureNames = featureNames,
      responseNames = m.getSeq[String](m.fieldIndex("response_names")).toArray,
      classLabels = m.getSeq[String](m.fieldIndex("class_labels")).toArray,
      lambda = lambdaArr, a0 = a0, beta = beta,
      nulldev = m.getDouble(m.fieldIndex("nulldev")),
      devRatio = m.getSeq[Double](m.fieldIndex("dev_ratio")).toArray,
      nobs = m.getLong(m.fieldIndex("nobs")),
      npasses = m.getInt(m.fieldIndex("npasses")),
      params = params)
  }

  /** AUC of score column `s` against 0/1 label `y` via the Mann–Whitney
    * rank statistic with average ranks for ties.
    *
    * Scalable form — NO single-partition sort anywhere: (1) aggregate
    * (count, positives) per DISTINCT score (one shuffle, map-side
    * combined); (2) RANGE-partition the distinct-score table by score
    * and sort within partitions — a distributed sort, each partition
    * holds a contiguous score range; (3) pass one computes per-partition
    * count totals (a tiny P-row collect), whose running sum gives each
    * partition its global rank offset; (4) pass two turns offset +
    * partition-local running count into every score's average rank and
    * reduces the rank-sum. Scores of a continuous model are ~all
    * distinct, so the ranked table is the full row count — exactly why
    * the global-order Window (single partition) had to go.
    *
    * Exactness: counts are integer-valued doubles, so the partitioned
    * prefix sums equal the sequential scan bit-for-bit (integer sums are
    * exact well below 2^53) — same result as the Window formulation. */
  def aucOf(df: DataFrame, scoreCol: String, labelCol: String): Double = {
    val perScore = df.groupBy(col(scoreCol).as("s"))
      .agg(count(lit(1)).cast("double").as("cnt"),
        sum(when(col(labelCol) === 1.0, 1.0).otherwise(0.0)).as("pos"))
    val ranged = perScore
      .repartitionByRange(col("s"))
      .sortWithinPartitions("s")
      .select(col("cnt"), col("pos"))
    val rdd = ranged.rdd.map(r => (r.getDouble(0), r.getDouble(1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
        var c = 0.0; var p = 0.0
        it.foreach { case (cnt, pos) => c += cnt; p += pos }
        Iterator((i, c, p))
      }.collect().sortBy(_._1)
      val total = partTotals.map(_._2).sum
      val np = partTotals.map(_._3).sum
      val nn = total - np
      val offsets = new Array[Double](math.max(rdd.getNumPartitions, 1))
      var acc = 0.0
      partTotals.foreach { case (i, c, _) => offsets(i) = acc; acc += c }
      val bcOff = rdd.sparkContext.broadcast(offsets)
      val rpos = rdd.mapPartitionsWithIndex { (i, it) =>
        // cumBefore = rows with strictly smaller score; rows at score s
        // share avg rank = cumBefore + (cnt + 1)/2
        var cum = bcOff.value(i)
        var r = 0.0
        it.foreach { case (cnt, pos) =>
          r += pos * (cum + (cnt + 1) / 2.0); cum += cnt
        }
        Iterator(r)
      }.fold(0.0)(_ + _)
      if (np == 0 || nn == 0) Double.NaN
      else (rpos - np * (np + 1) / 2.0) / (np * nn)
    } finally rdd.unpersist(blocking = false)
  }
}
