package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Optimization round 18: the bounded driver cutovers added to the
  * distinct-value prefix-scan family must be PATH-EQUAL — the driver
  * fast path (cells ≤ maxLocalCells, the default at spec scale) and
  * the distributed two-pass range-partitioned scan (forced with
  * maxLocalCells = 0) produce identical rows, because both walk the
  * same value order with the same exact integer arithmetic and the
  * same closing double expressions. */
class LocalCutoverSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: Seq[Double], tag: String = "x") =
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", tag)

  private val xs = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0,
    5.0, 8.0, 9.0, 7.0, 9.0)
  private val ys = Seq(2.0, 7.0, 1.0, 8.0, 2.0, 8.0, 1.0, 8.0, 2.0, 8.0,
    4.0, 5.0, 9.0, 0.0, 4.0)

  // xs with NaN at every fifth row: the local-tier value walks must treat
  // all NaNs as one value, as the Spark tiers do
  private val xsNaN = xs.zipWithIndex.map { case (v, i) =>
    if (i % 5 == 1) Double.NaN else v }

  private def sortedRows(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(_.toSeq.map(String.valueOf(_)).mkString("|")).sorted.toSeq

  test("exactScale: raw tier == cell tier == forced distributed scan") {
    val probs = Seq(0.1, 0.25, 0.5, 0.9, 1.0)
    val a = Quantiles.exactScale(df(xs), "x", probs) // raw tier (r19)
    val c = Quantiles.exactScale(df(xs), "x", probs, maxLocalRows = 0L)
    val b = Quantiles.exactScale(df(xs), "x", probs, maxLocalCells = 0L,
      maxLocalRows = 0L)
    assert(sortedRows(a) === sortedRows(c))
    assert(sortedRows(a) === sortedRows(b))
    // and all equal the buffering correctness anchor
    assert(sortedRows(a) === sortedRows(Quantiles.exact(df(xs), "x", probs)))
  }

  test("weightedExactScale: raw tier == cell tier == forced distributed") {
    for (vs <- Seq(xs, xsNaN)) {
      val d = vs.zip(ys).zipWithIndex
        .map { case ((v, w), i) => (i.toLong, v, math.max(w, 1.0).toLong) }
        .toDF("id", "x", "w")
      val pm = Seq(100, 500, 900, 1000)
      val a = Quantiles.weightedExactScale(d, "x", "w", pm)
      val c = Quantiles.weightedExactScale(d, "x", "w", pm, maxLocalRows = 0L)
      val b = Quantiles.weightedExactScale(d, "x", "w", pm,
        maxLocalCells = 0L, maxLocalRows = 0L)
      assert(sortedRows(a) === sortedRows(c))
      assert(sortedRows(a) === sortedRows(b))
    }
  }

  test("exactByGroupScale: raw tier == cell tier == forced distributed") {
    val d = xs.zip(ys).zipWithIndex
      .map { case ((v, g), i) => (i.toLong, (g % 3).toInt, v) }
      .toDF("id", "g", "x")
    val probs = Seq(0.0, 0.5, 0.95)
    val a = Quantiles.exactByGroupScale(d, "g", "x", probs)
    val c = Quantiles.exactByGroupScale(d, "g", "x", probs,
      maxLocalRows = 0L)
    val b = Quantiles.exactByGroupScale(d, "g", "x", probs,
      maxLocalCells = 0L, maxLocalRows = 0L)
    assert(sortedRows(a) === sortedRows(c))
    assert(sortedRows(a) === sortedRows(b))
    // a DOUBLE group column holding 0.0, -0.0 and NaN: every tier keys
    // -0.0 with 0.0 and all NaNs as one group, as Spark's grouping does
    val gd = xs.zipWithIndex
      .map { case (v, i) => (i.toLong, Seq(0.0, -0.0, Double.NaN, 1.5)(i % 4), v) }
      .toDF("id", "g", "x")
    val ra = sortedRows(Quantiles.exactByGroupScale(gd, "g", "x", probs))
    assert(ra === sortedRows(Quantiles.exactByGroupScale(gd, "g", "x", probs,
      maxLocalRows = 0L)))
    assert(ra === sortedRows(Quantiles.exactByGroupScale(gd, "g", "x", probs,
      maxLocalCells = 0L, maxLocalRows = 0L)))
    assert(ra.map(_.split('|')(0)).distinct.sorted === Seq("0.0", "1.5", "NaN"))
  }

  test("ksStatistic / cvmStatistic / mannWhitneyU / emd1d: path equality") {
    val a = df(xs); val b = df(ys)
    // ks/cvm: raw tier (default), cell tier (maxLocalRows = 0),
    // distributed (both 0); also with NaNs
    for (an <- Seq(a, df(xsNaN))) {
      assert(Drift.ksStatistic(an, b, "x") ===
        Drift.ksStatistic(an, b, "x", maxLocalRows = 0L))
      assert(Drift.ksStatistic(an, b, "x") ===
        Drift.ksStatistic(an, b, "x", maxLocalCells = 0L, maxLocalRows = 0L))
      assert(sortedRows(Drift.cvmStatistic(an, b, "x")) ===
        sortedRows(Drift.cvmStatistic(an, b, "x", maxLocalRows = 0L)))
      assert(sortedRows(Drift.cvmStatistic(an, b, "x")) ===
        sortedRows(Drift.cvmStatistic(an, b, "x", maxLocalCells = 0L,
          maxLocalRows = 0L)))
    }
    assert(sortedRows(Drift.mannWhitneyU(a, b, "x")) ===
      sortedRows(Drift.mannWhitneyU(a, b, "x", maxLocalCells = 0L)))
    assert(sortedRows(Drift.emd1d(a, b, "x")) ===
      sortedRows(Drift.emd1d(a, b, "x", maxLocalCells = 0L)))
  }

  test("spearman / kruskalWallis: joint-cell cutover == rank-map path") {
    val d = xs.zip(ys).zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x, y) }.toDF("id", "x", "y")
    // three tiers (round 19): raw-collect (default at spec scale),
    // cell-aggregate (maxLocalRows = 0 declines the raw tier), and
    // distributed rank-map (both bounds 0) must agree exactly
    assert(sortedRows(Stats.spearman(d, "x", "y")) ===
      sortedRows(Stats.spearman(d, "x", "y", maxLocalRows = 0L)))
    assert(sortedRows(Stats.spearman(d, "x", "y")) ===
      sortedRows(Stats.spearman(d, "x", "y", maxLocalCells = 0L,
        maxLocalRows = 0L)))
    // a column with several NaNs: every NaN is ONE tie (ranked last) on
    // every tier
    val dn = xsNaN.zip(ys).zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x, y) }.toDF("id", "x", "y")
    val rawNaN = sortedRows(Stats.spearman(dn, "x", "y"))
    assert(rawNaN === sortedRows(Stats.spearman(dn, "x", "y",
      maxLocalRows = 0L)))
    assert(rawNaN === sortedRows(Stats.spearman(dn, "x", "y",
      maxLocalCells = 0L, maxLocalRows = 0L)))
    val g = xs.zip(ys).zipWithIndex
      .map { case ((x, y), i) => (i.toLong, s"g${(y % 3).toInt}", x) }
      .toDF("id", "g", "x")
    assert(sortedRows(Stats.kruskalWallis(g, "g", "x")) ===
      sortedRows(Stats.kruskalWallis(g, "g", "x", maxLocalCells = 0L)))
  }

  test("hits / ccStar / labelProp: driver cutover == forced distributed") {
    // round 19: the iterative-graph driver cutovers must be PATH-EQUAL
    // with the distributed loops (maxLocalEdges = 0 forces them).
    // Graph mixes a chain (deep), a star (wide), a triangle and a
    // self-loop; ids collide across shapes to exercise min-label races.
    val pairs = ((0L until 20L).map(i => (i + 1, i)) ++
      Seq((100L, 3L), (100L, 101L), (102L, 103L), (103L, 102L),
        (200L, 200L), (7L, 2L), (2L, 7L))).toDF("id_a", "id_b")
    assert(sortedRows(Dedup.connectedComponentsStar(pairs, "id_a", "id_b")) ===
      sortedRows(Dedup.connectedComponentsStar(pairs, "id_a", "id_b",
        maxLocalEdges = 0L)))
    val dir = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    assert(sortedRows(Graph.hits(dir, "src", "dst", iters = 2)) ===
      sortedRows(Graph.hits(dir, "src", "dst", iters = 2,
        maxLocalEdges = 0L)))
    // seeds: clamped labels incl. a null-label seed and tie-prone
    // duplicate labels on both sides of several nodes
    val seeds = Seq((0L, "alpha"), (5L, "beta"), (100L, "alpha"),
      (102L, null.asInstanceOf[String]), (103L, "gamma"))
      .toDF("id", "lab")
    assert(sortedRows(Graph.labelPropagation(pairs, "id_a", "id_b",
        seeds, "id", "lab", rounds = 3)) ===
      sortedRows(Graph.labelPropagation(pairs, "id_a", "id_b",
        seeds, "id", "lab", rounds = 3, maxLocalEdges = 0L)))
    // duplicate seed ids: the driver path must DECLINE (the distributed
    // join multiplies rows) — equality with the forced path proves the
    // fallback fired rather than silently deduping
    val dupSeeds = Seq((0L, "alpha"), (0L, "beta"), (5L, "beta"))
      .toDF("id", "lab")
    assert(sortedRows(Graph.labelPropagation(pairs, "id_a", "id_b",
        dupSeeds, "id", "lab", rounds = 2)) ===
      sortedRows(Graph.labelPropagation(pairs, "id_a", "id_b",
        dupSeeds, "id", "lab", rounds = 2, maxLocalEdges = 0L)))
  }

  test("spearman: BigInt moment branch (n > long-exact bound) matches") {
    // round 19 (ADVICE): the long-exact bound is now a parameter
    // (`longExactN`), so the BigInt accumulator branch EXECUTES at
    // small n — longExactN = 0 forces it; the long branch (default
    // bound) and the distributed decimal(38,0) path are the witnesses.
    val d = (0 until 500).map { i =>
      (i.toLong, (i % 17).toDouble, ((i * 31) % 13).toDouble)
    }.toDF("id", "x", "y")
    val long_branch = sortedRows(Stats.spearman(d, "x", "y"))
    val bigint_branch = sortedRows(Stats.spearman(d, "x", "y",
      longExactN = 0L))
    // BigInt branch of the CELL tier too (raw tier declined)
    val bigint_cells = sortedRows(Stats.spearman(d, "x", "y",
      longExactN = 0L, maxLocalRows = 0L))
    val distributed = sortedRows(Stats.spearman(d, "x", "y",
      maxLocalCells = 0L, maxLocalRows = 0L))
    assert(bigint_branch === long_branch)
    assert(bigint_branch === bigint_cells)
    assert(bigint_branch === distributed)
  }
}
