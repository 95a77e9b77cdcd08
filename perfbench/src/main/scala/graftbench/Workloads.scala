package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ml.{CvSgdNet, LargeP, SgdNet, SgdNetModel, SgdNetParams}
import graft.ops.{Ann, Curation, Dedup, TextAnalysis}
import Checks._

abstract class Inputs(dir: String) {
  val truth: JsonNode = new ObjectMapper().readTree(new java.io.File(s"$dir/truth.json"))
  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq
}

object Fits {
  /** Path points the KKT check samples: the middle and the smallest lambda. */
  def sampled(m: SgdNetModel): Seq[Int] = Seq(m.lambda.length / 2, m.lambda.length - 1).distinct

  def notes(m: SgdNetModel): Seq[(String, Double)] =
    Seq("passes" -> m.npasses.toDouble, "passes_per_lambda" -> m.npasses.toDouble / m.lambda.length)

  /** Checks every fit carries: KKT at the sampled path points, dev.ratio,
    * and planted-support recovery; perturbations that each must break. */
  def verify(grad: (SgdNetModel, Seq[Int]) => Seq[Array[Array[Double]]], sd: => Array[Double],
             signs: Seq[(Int, Int, Int)], baseline: Option[Int] = None): Verify[SgdNetModel] =
    new Verify[SgdNetModel](
      Seq(
        "kkt" -> { m =>
          val ls = sampled(m)
          ls.zip(grad(m, ls))
            .map { case (l, g) => l -> kktViolation(g, m.beta(l), sd, m.lambda(l), m.params.alpha) }
            .find(_._2 > KktTol)
            .map { case (l, v) => f"KKT violated at lambda index $l by $v%.4f of lambda" }
        },
        "dev_ratio" -> devRatio,
        "support" -> (m => support(m, signs, baseline))),
      samePath,
      Seq(
        "scale the largest coefficient at the last lambda by 1.5" -> { m =>
          val l = m.lambda.length - 1; val j = largest(m, l)
          withBeta(m, l, 0, j, m.beta(l)(0)(j) * 1.5)
        },
        "flip the sign of a planted coefficient" -> { m =>
          val (k, j, _) = signs.head; val l = m.lambda.length - 1
          withBeta(m, l, k, j, -m.beta(l)(k)(j))
        },
        "make dev.ratio decrease" -> { m =>
          val d = m.devRatio.clone(); d(d.length - 1) = d(d.length - 2) - 0.01
          withBeta(m, 0, 0, 0, m.beta(0)(0)(0), d)
        }))
}

/** Dense lineitem-shaped design: gaussian, binomial and multinomial lasso
  * paths, a k-fold binomial CV and off-path scoring. */
final class GlmDense(spark: SparkSession, dir: String) extends Inputs(dir) with Workload {
  private val df = spark.read.parquet(s"$dir/design")
  private val feats = truth.get("features").elements().asScala.map(_.asText).toSeq
  val rowsPerRound: Long = truth.get("rows").asLong

  private lazy val (mean, sd, _) = denseMoments(df, feats)
  private def grad(label: String)(m: SgdNetModel, ls: Seq[Int]) =
    denseGradient(df, feats, label, m, ls, mean, sd, rowsPerRound)
  private def signs(key: String, k: Int = 0): Seq[(Int, Int, Int)] =
    truth.get(key).properties().asScala.map(e => (k, feats.indexOf(e.getKey), e.getValue.asInt)).toSeq
  private val multiSigns = truth.get("multinomial_signs").properties().asScala.toSeq
    .flatMap(c => c.getValue.properties().asScala.map(e => (c.getKey.toInt, feats.indexOf(e.getKey), e.getValue.asInt)))

  private val gaussV = Fits.verify(grad("y_gauss"), sd, signs("gaussian_signs"))
  private val binV = Fits.verify(grad("y_bin"), sd, signs("binomial_signs"))
  private val multiV = Fits.verify(grad("y_multi"), sd, multiSigns, baseline = Some(2))
  private val cvV = new Verify[CvSgdNet.CvResult](
    Seq(
      "cv_selection" -> { r => val b = r.best; cvSelection(b.lambda, b.cvm, b.cvsd, b.lambdaMin, b.lambda1se) },
      "full_fit" -> { r => binV.run(r.best.fit, useCache = false).headOption }),
    (a, b) => samePath(a.best.fit, b.best.fit) && a.best.cvm.indices.forall(i => close(a.best.cvm(i), b.best.cvm(i), 1e-7)),
    Seq(
      "move lambda.min off the minimum" -> { r =>
        val b = r.best; val i = b.lambda.indexWhere(_ == b.lambdaMin)
        val p = b.copy(lambdaMin = b.lambda(if (i == 0) 1 else 0)); r.copy(paths = Seq(p), best = p)
      },
      "set lambda.1se below lambda.min" -> { r =>
        val b = r.best.copy(lambda1se = r.best.lambdaMin / 2); r.copy(paths = Seq(b), best = b)
      }))

  /** Off-path scoring: (model, s, sum of the predicted probabilities). */
  private val predictV = new Verify[(SgdNetModel, Double, Double)](
    Seq("sum_of_scores" -> { case (m, s, got) =>
      val (a0, b) = interpolate(m, s)
      val want = denseProbabilitySum(df, feats, a0(0), b(0))
      if (close(got, want, 1e-9)) None else Some(s"sum of scores $got, recomputed $want")
    }),
    (a, b) => samePath(a._1, b._1) && a._2 == b._2 && close(a._3, b._3, 1e-12),
    Seq("shift the score sum by 0.1%" -> { case (m, s, got) => (m, s, got * 1.001) }))

  def round(ctx: Ctx): Unit = {
    val gp = SgdNetParams(nlambda = 10, lambdaMinRatio = 0.02)
    ctx.call("ml.SgdNet.fit_gaussian", gaussV, Fits.notes)(SgdNet.fit(df, feats, "y_gauss", gp))
    val bin = ctx.call("ml.SgdNet.fit_binomial", binV, Fits.notes)(
      SgdNet.fit(df, feats, "y_bin", gp.copy(family = "binomial", nlambda = 2, lambdaMinRatio = 0.1)))
    ctx.call("ml.SgdNet.fit_multinomial", multiV, Fits.notes)(
      SgdNet.fit(df, feats, "y_multi", gp.copy(family = "multinomial", nlambda = 2, lambdaMinRatio = 0.6)))
    ctx.call("ml.CvSgdNet.fit", cvV, (r: CvSgdNet.CvResult) => Fits.notes(r.best.fit))(
      CvSgdNet.fit(df, feats, Seq("y_bin"), gp.copy(family = "binomial", nlambda = 2, lambdaMinRatio = 0.1), nfolds = 3))
    bin match {
      case Some(m) =>
        val l = (m.lambda.length - 1) / 2
        val s = math.sqrt(m.lambda(l) * m.lambda(l + 1))  // between two path points
        ctx.call("ml.SgdNetModel.predict", predictV) {
          val (a0, b) = m.atLambda(s)
          (m, s, df.select(m.responseColFor(a0, b).as("p")).agg(sum("p")).head().getDouble(0))
        }
      case None => ctx.skip("ml.SgdNetModel.predict")
    }
  }
}

/** The two uses of the `ml` layer in one round: the dense solvers, which
  * the driver sequences pass by pass, then the large-p sparse route, whose
  * passes decode CSR rows and return p-sized aggregates. */
final class Glm(spark: SparkSession, dir: String) extends Workload {
  private val dense = new GlmDense(spark, s"$dir/dense")
  private val sparse = new GlmSparse(spark, s"$dir/sparse")
  val rowsPerRound: Long = dense.rowsPerRound + sparse.rowsPerRound
  def round(ctx: Ctx): Unit = { dense.round(ctx); sparse.round(ctx) }
}

/** Hashed bag-of-words rows in CSR form: the large-p sparse binomial and
  * gaussian paths, then sparse scoring. */
final class GlmSparse(spark: SparkSession, dir: String) extends Inputs(dir) with Workload {
  private val df = spark.read.parquet(s"$dir/docs")
  private val dim = truth.get("dim").asInt
  val rowsPerRound: Long = truth.get("rows").asLong
  private val signs = longs(truth.get("support")).map(_.toInt)
    .zip(longs(truth.get("signs")).map(_.toInt)).map { case (j, s) => (0, j, s) }

  private lazy val (mean, sd) = sparseMoments(df, dim, rowsPerRound)
  private def grad(label: String)(m: SgdNetModel, ls: Seq[Int]) =
    sparseGradient(df, label, m.family, m.classLabels, ls.map(m.a0(_)(0)), ls.map(m.beta(_)(0)),
      mean, sd, rowsPerRound)

  private val Params = SgdNetParams(nlambda = 2, lambdaMinRatio = 0.1)
  private val binV = Fits.verify(grad("y_bin"), sd, signs)
  private val linV = Fits.verify(grad("y_lin"), sd, signs)

  /** Sparse scoring at the last path point: (model, sum of probabilities),
    * recomputed from the CSR entries by the benchmark's own loop. */
  private val predictV = new Verify[(SgdNetModel, Double)](
    Seq("sum_of_scores" -> { case (m, got) =>
      val l = m.lambda.length - 1
      val want = sparseProbabilitySum(df, m.a0(l)(0), m.beta(l)(0))
      if (close(got, want, 1e-9)) None else Some(s"sum of scores $got, recomputed $want")
    }),
    (a, b) => samePath(a._1, b._1) && close(a._2, b._2, 1e-12),
    Seq("shift the score sum by 0.1%" -> { case (m, got) => (m, got * 1.001) }))

  def round(ctx: Ctx): Unit = {
    val bin = ctx.call("ml.LargeP.fitSparseBinomial", binV, Fits.notes)(
      LargeP.fitSparseBinomial(df, "idx", "val", dim, "y_bin",
        Params.copy(family = "binomial")))
    ctx.call("ml.LargeP.fitSparseGaussian", linV, Fits.notes)(
      LargeP.fitSparseGaussian(df, "idx", "val", dim, "y_lin", Params))
    bin match {
      case Some(m) =>
        ctx.call("ml.SgdNetModel.predictSparse", predictV) {
          val l = m.lambda.length - 1
          (m, m.predictSparse(df, "idx", "val", "response", Seq(l))
            .agg(sum(s"pred_$l")).head().getDouble(0))
        }
      case None => ctx.skip("ml.SgdNetModel.predictSparse")
    }
  }
}

/** A web-like corpus: quality rules, exact and near-duplicate detection,
  * clustering of the near-duplicate pairs, IVF nearest neighbours and
  * token-budget selection. */
final class CorpusCuration(spark: SparkSession, dir: String) extends Inputs(dir) with Workload {
  import spark.implicits._
  private val docs = spark.read.parquet(s"$dir/docs")
  private val queries = spark.read.parquet(s"$dir/queries")
  val rowsPerRound: Long = truth.get("rows").asLong
  private val breakers = longs(truth.get("rule_breakers")).toSet
  private val exactGroups = truth.get("exact_groups").elements().asScala.map(longs).toSeq
  private val nearPairs = truth.get("near_pairs").elements().asScala.map(longs)
    .map(p => (p(0), p(1))).toSeq
  private val budget = truth.get("total_tokens").asLong * 3 / 10

  val Threshold = 0.7      // minhashLsh Jaccard threshold
  val ShingleWidth = 3
  // planted near-duplicate pairs found by minhashLsh: graft plans 3 bands
  // of 4 rows for 0.7, which finds a pair of Jaccard 0.9 with p = 0.96
  val RecallFloor = 0.8
  val K = 10
  val IvfRecallFloor = 0.8 // IVF recall@k against brute force

  private def texts(ids: Set[Long]): Map[Long, String] =
    docs.select("id", "text").where(col("id").isin(ids.toSeq: _*)).as[(Long, String)]
      .collect().toMap

  private val gopherV = new Verify[Array[(Long, Boolean)]](
    Seq("planted" -> { out =>
      val wrong = out.filter { case (id, keep) => keep == breakers.contains(id) }
      if (out.length != rowsPerRound) Some(s"${out.length} rows for $rowsPerRound documents")
      else if (wrong.nonEmpty) Some(s"${wrong.length} documents misjudged, e.g. ${wrong.take(3).mkString(",")}")
      else None
    }),
    (a, b) => false,
    Seq("keep one rule-breaking document" -> { out =>
      out.map { case (id, k) => (id, k || id == breakers.head) }
    }))

  /** Exact dedup output: (keep_id, cluster_size) per distinct content. */
  private val exactV = new Verify[Array[(Long, Long)]](
    Seq("planted_groups" -> { out =>
      val want = exactGroups.map(g => (g.min, g.size.toLong)).toSet
      val got = out.filter(_._2 > 1).toSet
      val distinct = rowsPerRound - exactGroups.map(_.size - 1).sum
      if (out.length != distinct) Some(s"${out.length} distinct contents, planted $distinct")
      else if (got != want) Some(s"duplicate groups differ: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
      else None
    }),
    (a, b) => a.sorted.sameElements(b.sorted),
    Seq("drop one duplicate group" -> { out =>
      val g = exactGroups.head.min; out.filterNot(_._1 == g)
    }))

  /** minhashLsh pairs (a, b, jaccard). */
  private val lshV = new Verify[Array[(Long, Long, Double)]](
    Seq("jaccard_and_recall" -> { out =>
      val exactPairs = exactGroups.flatMap(g => g.combinations(2).map(p => (p.min, p.max)))
      val t = texts(out.flatMap(p => Seq(p._1, p._2)).toSet ++ nearPairs.flatMap(p => Seq(p._1, p._2)))
      val sh = t.map { case (id, s) => id -> shingles(s, ShingleWidth) }
      val bad = out.filter { case (a, b, j) =>
        val e = jaccard(sh(a), sh(b)); e < Threshold || !close(e, j, 1e-9)
      }
      val found = out.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      val due = nearPairs.filter { case (a, b) => jaccard(sh(a), sh(b)) >= Threshold }
      val recall = due.count(found.contains).toDouble / due.size
      if (bad.nonEmpty) Some(s"${bad.length} pairs below the threshold or misreported, e.g. ${bad.head}")
      else if (!exactPairs.forall(found.contains)) Some("an exact-duplicate pair is missing")
      else if (recall < RecallFloor) Some(f"near-duplicate recall $recall%.3f < $RecallFloor")
      else None
    }),
    (a, b) => a.map(p => (p._1, p._2)).sorted.sameElements(b.map(p => (p._1, p._2)).sorted),
    Seq(
      "add a pair of unrelated documents" -> { out =>
        val ids = out.flatMap(p => Seq(p._1, p._2)).toSet
        val (a, b) = (breakers.filterNot(ids).min, breakers.filterNot(ids).max)
        out :+ ((a, b, 0.9))
      },
      "drop the planted near-duplicate pairs" -> { out =>
        val near = nearPairs.toSet
        out.filterNot(p => near.contains((math.min(p._1, p._2), math.max(p._1, p._2))))
      }))

  /** connectedComponents: (input pairs, (id, cluster_id) rows). */
  private val ccV = new Verify[(Array[(Long, Long)], Array[(Long, Long)])](
    Seq("union_find" -> { case (pairs, out) =>
      val want = unionFind(pairs.toSeq)
      val got = out.toMap
      if (out.length != want.size || got != want)
        Some(s"${(got.toSet diff want.toSet).size} labels differ from union-find")
      else None
    }),
    (a, b) => false,
    Seq("move one node to another cluster" -> { case (pairs, out) =>
      (pairs, out.updated(0, (out(0)._1, out(0)._1 + 1)))
    }))

  private lazy val corpusVecs: Map[Long, Array[Double]] =
    docs.select("id", "emb").as[(Long, Array[Double])].collect().toMap
  private lazy val qvecs: Map[Long, Array[Double]] =
    queries.select("id", "emb").as[(Long, Array[Double])].collect().toMap
  /** Brute-force top-k by cosine (ties to the smaller id). */
  private lazy val exactTopK: Map[Long, Set[Long]] = qvecs.map { case (q, v) =>
    q -> corpusVecs.toSeq.map { case (id, e) => (id, cosine(v, e)) }
      .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1).toSet
  }

  /** ivfTopK rows (query_id, neighbor_id, rank, cos). */
  private val ivfV = new Verify[Array[(Long, Long, Int, Double)]](
    Seq(
      "scores_and_order" -> { out =>
        val byQ = out.groupBy(_._1)
        val bad = out.filter { case (q, n, _, c) => !close(cosine(qvecs(q), corpusVecs(n)), c, 1e-9) }
        val order = byQ.values.find(rs => rs.sortBy(_._3).map(_._4).sliding(2).exists {
          case Array(a, b) => a < b; case _ => false })
        if (byQ.size != qvecs.size || byQ.values.exists(_.length != K)) Some("not k neighbours per query")
        else if (bad.nonEmpty) Some(s"${bad.length} reported cosines differ from recomputed ones")
        else if (order.nonEmpty) Some("neighbours are not ranked by cosine")
        else None
      },
      "recall" -> { out =>
        val r = recall(out)
        if (r < IvfRecallFloor) Some(f"recall@$K $r%.3f < $IvfRecallFloor") else None
      }),
    (a, b) => false,
    Seq(
      "swap one neighbour for another document" -> { out =>
        val (q, n, r, c) = out(0)
        out.updated(0, (q, corpusVecs.keys.find(id => !out.exists(o => o._1 == q && o._2 == id)).get, r, c))
      },
      "replace the neighbours by far documents" -> { out =>
        val far = corpusVecs.keys.toSeq.sorted
        out.map { case (q, n, r, c) =>
          val id = far((r * 7919 + q.toInt) % far.size)
          (q, id, r, cosine(qvecs(q), corpusVecs(id)))
        }.groupBy(_._1).values.flatMap(_.sortBy(-_._4).zipWithIndex.map { case ((q, n, _, c), i) => (q, n, i + 1, c) }).toArray
      }))

  def recall(out: Array[(Long, Long, Int, Double)]): Double =
    out.count { case (q, n, _, _) => exactTopK(q).contains(n) }.toDouble / (qvecs.size * K)

  /** selectByBudget rows (id, cum_before) against the cost-bounded prefix
    * of a plain sort by (quality desc, id). */
  private lazy val budgetPrefix: Map[Long, Long] = {
    val rows = docs.select("id", "quality", "n_tokens").as[(Long, Double, Long)].collect()
      .sortBy { case (id, q, _) => (-q, id) }
    val cum = rows.scanLeft(0L)(_ + _._3)
    rows.indices.takeWhile(i => cum(i + 1) <= budget).map(i => rows(i)._1 -> cum(i)).toMap
  }
  private val budgetV = new Verify[Array[(Long, Long)]](
    Seq("sorted_prefix" -> { out =>
      if (out.toMap == budgetPrefix && out.length == budgetPrefix.size) None
      else Some(s"${out.length} rows selected, the sorted prefix has ${budgetPrefix.size}")
    }),
    (a, b) => a.sorted.sameElements(b.sorted),
    Seq("drop the last selected row" -> { out => out.sortBy(_._2).dropRight(1) }))

  def round(ctx: Ctx): Unit = {
    ctx.call("ops.TextAnalysis.gopherRules", gopherV)(
      TextAnalysis.gopherRules(docs, "text").select("id", "gopher_keep").as[(Long, Boolean)].collect())
    ctx.call("ops.Dedup.exact", exactV)(
      Dedup.exact(docs, "id", Seq("text")).select("keep_id", "cluster_size").as[(Long, Long)].collect())
    val pairs = ctx.call("ops.Dedup.minhashLsh", lshV)(
      Dedup.minhashLsh(docs, "id", "text", threshold = Threshold, shingleWidth = ShingleWidth)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect())
    pairs match {
      case Some(ps) =>
        val edges = ps.map(p => (p._1, p._2))
        ctx.call("ops.Dedup.connectedComponents", ccV)(
          (edges, Dedup.connectedComponents(edges.toSeq.toDF("a", "b"), "a", "b")
            .select("id", "cluster_id").as[(Long, Long)].collect()))
      case None => ctx.skip("ops.Dedup.connectedComponents")
    }
    ctx.call("ops.Ann.ivfTopK", ivfV, (o: Array[(Long, Long, Int, Double)]) => Seq("recall_at_k" -> recall(o)))(
      Ann.ivfTopK(docs, queries, "id", "emb", K).select("query_id", "neighbor_id", "rank", "cos")
        .as[(Long, Long, Int, Double)].collect())
    ctx.call("ops.Curation.selectByBudget", budgetV)(
      Curation.selectByBudget(docs.select("id", "quality", "n_tokens"),
        Seq(col("quality").desc, col("id")), col("n_tokens"), budget)
        .select("id", "cum_before").as[(Long, Long)].collect())
  }
}
