package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.SgdNetModel

/** Output checks computed by the benchmark itself: its own per-partition
  * aggregates, its own interpolation, union-find, shingling and brute
  * force, never a graft helper. */
object Checks {

  /** Relative KKT tolerance: the largest violation of the elastic-net
    * stationarity conditions, as a share of lambda * alpha, that a path
    * point may show at the solvers' default convergence threshold. The
    * first-order multinomial solver stops near 5% of lambda. */
  val KktTol = 0.1

  /** The elastic-net KKT check at one path point, from gradients of the
    * loss on the standardized scale: g_kj = (sum_i r_ik x_ij - c_j sum_i
    * r_ik) / (n s_j), with r the response residual. For b_kj = beta_kj s_j,
    * g = lambda (alpha sign(b) + (1 - alpha) b) where b != 0 and |g| <=
    * lambda alpha where b = 0. Returns the largest violation over classes
    * and features as a share of lambda * alpha. */
  def kktViolation(grad: Array[Array[Double]], beta: Array[Array[Double]],
                   sd: Array[Double], lambda: Double, alpha: Double): Double = {
    var worst = 0.0
    for (k <- beta.indices; j <- sd.indices if sd(j) > 0) {
      val b = beta(k)(j) * sd(j)
      val g = grad(k)(j)
      val v =
        if (b != 0.0) math.abs(g - lambda * (alpha * math.signum(b) + (1 - alpha) * b))
        else math.max(0.0, math.abs(g) - lambda * alpha)
      worst = math.max(worst, v / (lambda * alpha))
    }
    worst
  }

  /** Dense rows as (features, label as string, label as double). */
  private def dense(df: DataFrame, feats: Seq[String], label: String) = {
    import df.sparkSession.implicits._
    df.select(array(feats.map(f => col(f).cast("double")): _*), col(label).cast("string"),
      col(label).cast("double")).as[(Array[Double], String, Double)].rdd
  }

  /** Response residuals y - mu per class: gaussian y - eta, binomial
    * 1{y = positive} - sigmoid(eta), multinomial 1{y = class k} -
    * softmax_k(eta). */
  private def residuals(family: String, classLabels: Array[String], eta: Array[Double],
                        ys: String, y: Double, r: Array[Double]): Unit = family match {
    case "gaussian" => r(0) = y - eta(0)
    case "binomial" => r(0) = (if (ys == classLabels(1)) 1.0 else 0.0) - 1.0 / (1.0 + math.exp(-eta(0)))
    case "multinomial" =>
      val mx = eta.max
      var z = 0.0
      var k = 0
      while (k < eta.length) { z += math.exp(eta(k) - mx); k += 1 }
      k = 0
      while (k < eta.length) {
        r(k) = (if (ys == classLabels(k)) 1.0 else 0.0) - math.exp(eta(k) - mx) / z; k += 1
      }
  }

  /** Dense-design gradients at the path points `ls`, in one pass: per
    * class k, sum_i r_ik x_ij and sum_i r_ik, then centred and scaled. */
  def denseGradient(df: DataFrame, feats: Seq[String], label: String,
                    m: SgdNetModel, ls: Seq[Int], mean: Array[Double],
                    sd: Array[Double], n: Long): Seq[Array[Array[Double]]] = {
    val (k, p, w) = (m.beta(0).length, feats.size, feats.size + 1)
    val (family, labels) = (m.family, m.classLabels)
    val a0s = ls.map(m.a0(_)).toArray
    val betas = ls.map(m.beta(_)).toArray
    val s = dense(df, feats, label).mapPartitions { it =>
      val g = new Array[Double](ls.size * k * w)
      val eta, r = new Array[Double](k)
      it.foreach { case (x, ys, y) =>
        var l = 0
        while (l < ls.size) {
          var t = 0
          while (t < k) {
            var e = a0s(l)(t)
            var j = 0
            while (j < p) { e += betas(l)(t)(j) * x(j); j += 1 }
            eta(t) = e; t += 1
          }
          residuals(family, labels, eta, ys, y, r)
          t = 0
          while (t < k) {
            val off = (l * k + t) * w
            var j = 0
            while (j < p) { g(off + j) += r(t) * x(j); j += 1 }
            g(off + p) += r(t); t += 1
          }
          l += 1
        }
      }
      Iterator(g)
    }.reduce(addInto)
    ls.indices.map { l =>
      Array.tabulate(k, p) { (t, j) =>
        val off = (l * k + t) * w
        (s(off + j) - mean(j) * s(off + p)) / (n * sd(j))
      }
    }
  }

  /** Column means and population standard deviations of dense rows. */
  def denseMoments(df: DataFrame, feats: Seq[String]): (Array[Double], Array[Double], Long) = {
    val p = feats.size
    val s = dense(df, feats, feats.head).mapPartitions { it =>
      val m = new Array[Double](2 * p + 1)
      it.foreach { case (x, _, _) =>
        var j = 0
        while (j < p) { m(j) += x(j); m(p + j) += x(j) * x(j); j += 1 }
        m(2 * p) += 1
      }
      Iterator(m)
    }.reduce(addInto)
    val n = s(2 * p)
    val mean = Array.tabulate(p)(j => s(j) / n)
    (mean, Array.tabulate(p)(j => math.sqrt(math.max(s(p + j) / n - mean(j) * mean(j), 0.0))), n.toLong)
  }

  /** Sum over dense rows of 1 / (1 + exp(-(a0 + x_i . beta))). */
  def denseProbabilitySum(df: DataFrame, feats: Seq[String], a0: Double, beta: Array[Double]): Double =
    dense(df, feats, feats.head).mapPartitions { it =>
      var s = 0.0
      it.foreach { case (x, _, _) =>
        var e = a0
        var j = 0
        while (j < x.length) { e += beta(j) * x(j); j += 1 }
        s += 1.0 / (1.0 + math.exp(-e))
      }
      Iterator(s)
    }.reduce(_ + _)

  /** CSR rows as (indices, values, label as string, label as double). */
  private def csr(df: DataFrame, label: String) = {
    import df.sparkSession.implicits._
    df.select(col("idx"), col("val"), col(label).cast("string"), col(label).cast("double"))
      .as[(Array[Int], Array[Double], String, Double)].rdd
  }

  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
  }

  /** CSR gradients at the path points `ls` (intercepts `a0s`, coefficients
    * `betas`), by exploding each row into its (j, v) entries and summing:
    * eta_i = a0 + sum_k v_ik beta_j(ik), then sum_i r_i v_ij per feature and
    * sum_i r_i (the last slot). One plain per-partition loop, merged on the
    * driver. */
  def sparseGradient(df: DataFrame, label: String, family: String,
                     classLabels: Array[String], a0s: Seq[Double], betas: Seq[Array[Double]],
                     mean: Array[Double], sd: Array[Double], n: Long): Seq[Array[Array[Double]]] = {
    val p = mean.length
    val s = csr(df, label).mapPartitions { it =>
      val g = new Array[Double]((p + 1) * a0s.size)
      val eta, r = new Array[Double](1)
      it.foreach { case (idx, v, ys, y) =>
        var l = 0
        while (l < a0s.size) {
          val (beta, off) = (betas(l), l * (p + 1))
          eta(0) = a0s(l)
          var k = 0
          while (k < idx.length) { eta(0) += v(k) * beta(idx(k)); k += 1 }
          residuals(family, classLabels, eta, ys, y, r)
          k = 0
          while (k < idx.length) { g(off + idx(k)) += r(0) * v(k); k += 1 }
          g(off + p) += r(0)
          l += 1
        }
      }
      Iterator(g)
    }.reduce(addInto)
    a0s.indices.map { l =>
      val off = l * (p + 1)
      Array(Array.tabulate(p)(j =>
        if (sd(j) > 0) (s(off + j) - mean(j) * s(off + p)) / (n * sd(j)) else 0.0))
    }
  }

  /** Sum over rows of 1 / (1 + exp(-(a0 + x_i . beta))) for CSR rows. */
  def sparseProbabilitySum(df: DataFrame, a0: Double, beta: Array[Double]): Double =
    csr(df, "id").mapPartitions { it =>
      var s = 0.0
      it.foreach { case (idx, v, _, _) =>
        var eta = a0
        var k = 0
        while (k < idx.length) { eta += v(k) * beta(idx(k)); k += 1 }
        s += 1.0 / (1.0 + math.exp(-eta))
      }
      Iterator(s)
    }.reduce(_ + _)

  /** Column means and population standard deviations of CSR rows. */
  def sparseMoments(df: DataFrame, dim: Int, n: Long): (Array[Double], Array[Double]) = {
    val s = csr(df, "id").mapPartitions { it =>
      val m = new Array[Double](2 * dim)
      it.foreach { case (idx, v, _, _) =>
        var k = 0
        while (k < idx.length) { m(idx(k)) += v(k); m(dim + idx(k)) += v(k) * v(k); k += 1 }
      }
      Iterator(m)
    }.reduce(addInto)
    val mean = Array.tabulate(dim)(j => s(j) / n)
    (mean, Array.tabulate(dim)(j => math.sqrt(math.max(s(dim + j) / n - mean(j) * mean(j), 0.0))))
  }

  /** dev.ratio lies in [0, 1] and never decreases along the path (both up
    * to 1e-9 of round-off: at lambda max it is 0 only to the last digits). */
  def devRatio(m: SgdNetModel): Option[String] = {
    val d = m.devRatio
    if (d.exists(x => x.isNaN || x < -1e-9 || x > 1 + 1e-9)) Some(s"dev.ratio outside [0, 1]: ${d.mkString(",")}")
    else d.indices.drop(1).find(i => d(i) < d(i - 1) - 1e-9)
      .map(i => s"dev.ratio decreases at lambda index $i: ${d(i - 1)} -> ${d(i)}")
  }

  /** Every planted coefficient is nonzero with its sign at the smallest
    * lambda. `signs` maps (class, feature index) to the planted sign;
    * with `baseline` the sign is of the contrast to that class, the only
    * identified quantity of a symmetric multinomial fit. */
  def support(m: SgdNetModel, signs: Seq[(Int, Int, Int)],
              baseline: Option[Int] = None): Option[String] = {
    val b = m.beta(m.lambda.length - 1)
    val bad = signs.filter { case (k, j, s) =>
      val v = b(k)(j) - baseline.fold(0.0)(c => b(c)(j))
      v == 0.0 || math.signum(v) != s
    }
    if (bad.isEmpty) None
    else Some(s"planted coefficients not recovered at the smallest lambda: " +
      bad.map { case (k, j, s) => s"class $k feature $j sign $s" }.mkString(", "))
  }

  /** lambda.min / lambda.1se from the returned CV curve: the minimum of
    * cvm sits at lambda.min, lambda.1se >= lambda.min, and cvm at
    * lambda.1se is within one standard error of the minimum. */
  def cvSelection(lambda: Array[Double], cvm: Array[Double], cvsd: Array[Double],
                  lambdaMin: Double, lambda1se: Double): Option[String] = {
    val iMin = lambda.indexWhere(_ == lambdaMin)
    val i1se = lambda.indexWhere(_ == lambda1se)
    if (lambda1se < lambdaMin) Some(s"lambda.1se $lambda1se < lambda.min $lambdaMin")
    else if (iMin < 0 || i1se < 0) Some("lambda.min or lambda.1se is not on the path")
    else if (cvm.exists(_ < cvm(iMin))) Some(s"cvm is smaller than at lambda.min (${cvm(iMin)}): ${cvm.min}")
    else if (cvm(i1se) > cvm(iMin) + cvsd(iMin)) Some("cvm at lambda.1se is beyond one standard error")
    else None
  }

  /** Coefficients at penalty s by linear interpolation between the two
    * neighbouring path points (glmnet's lambda_interpolate). */
  def interpolate(m: SgdNetModel, s: Double): (Array[Double], Array[Array[Double]]) = {
    val l = m.lambda
    val right = l.indexWhere(_ <= s)
    val left = right - 1
    val f = (s - l(right)) / (l(left) - l(right))
    (m.a0(left).indices.map(t => f * m.a0(left)(t) + (1 - f) * m.a0(right)(t)).toArray,
      m.beta(left).indices.map(t => m.beta(left)(t).indices.map(j =>
        f * m.beta(left)(t)(j) + (1 - f) * m.beta(right)(t)(j)).toArray).toArray)
  }

  def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Same path up to the last-digit wobble of partition merge order. */
  def samePath(a: SgdNetModel, b: SgdNetModel): Boolean =
    a.lambda.length == b.lambda.length && a.lambda.indices.forall { l =>
      close(a.lambda(l), b.lambda(l), 1e-9) &&
        a.a0(l).indices.forall(t => close(a.a0(l)(t), b.a0(l)(t), 1e-7)) &&
        a.beta(l).indices.forall(t => a.beta(l)(t).indices.forall(j =>
          close(a.beta(l)(t)(j), b.beta(l)(t)(j), 1e-7)))
    }

  /** A copy of `m` with beta(l)(k)(j) and dev.ratio replaced. */
  def withBeta(m: SgdNetModel, l: Int, k: Int, j: Int, v: Double,
               devRatio: Array[Double] = null): SgdNetModel = {
    val beta = m.beta.map(_.map(_.clone()))
    beta(l)(k)(j) = v
    new SgdNetModel(m.family, m.featureNames, m.responseNames, m.classLabels,
      m.lambda, m.a0, beta, m.nulldev, Option(devRatio).getOrElse(m.devRatio),
      m.nobs, m.npasses, m.params)
  }

  /** Index of the largest coefficient of class k at path point l. */
  def largest(m: SgdNetModel, l: Int, k: Int = 0): Int =
    m.beta(l)(k).indices.maxBy(j => math.abs(m.beta(l)(k)(j)))

  // ----------------------------------------------------------------- text

  /** Distinct word shingles of width w: lower-cased, split on white
    * space; a document shorter than w words is one partial shingle. */
  def shingles(text: String, w: Int): Set[String] = {
    val ws = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    (0 to math.max(ws.length - w, 0)).map(i => ws.slice(i, i + w).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Minimum-id labels of the connected components of an edge list. */
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }
}
