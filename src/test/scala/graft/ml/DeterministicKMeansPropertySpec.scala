package graft.ml

import graft.{QueryCleanup, SparkSpec}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Properties of the three [[DeterministicKMeans]] entry points on
  * generated points: duplicates, equidistant ties, negative micros, fewer
  * distinct tuples than k, k = 1, a cell left empty, and (grouped) groups
  * of different sizes and dimensions. The reference is a plain-Scala
  * model of the protocol — the ordered distinct tuples, the rank seeds,
  * the exact squared distance with ties to the lowest id, half-away means
  * of the integer sums, and empty cells carried forward — and the engine
  * must match it exactly: the same centroids where an entry point returns
  * them, the same cell per row where it assigns rows. Vector elements are
  * small micro counts, so ties and half-unit means are common. ScalaCheck
  * runs directly
  * (`Prop.forAllNoShrink` + `Test.check`) with a fixed seed, so every run
  * checks the same points. */
class DeterministicKMeansPropertySpec extends SparkSpec {
  import DeterministicKMeansPropertySpec._
  import spark.implicits._

  private def check(name: String, prop: Prop, cases: Int): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(cases)
      .withWorkers(1).withInitialSeed(Seed(42L))
    val result = Test.check(params, prop)
    QueryCleanup.drain()
    assert(result.passed, s"$name: ${result.status}")
  }

  /** `n` vectors of dimension `d` drawn from a pool of at most 10 distinct
    * ones with elements in -3..3 micros, so duplicates and ties recur. */
  private def points(d: Int, n: Gen[Int]): Gen[IndexedSeq[Vec]] = for {
    pool <- Gen.choose(1, 10).flatMap(Gen.listOfN(_, Gen.listOfN(d, Gen.choose(-3L, 3L))))
    m <- n
    vs <- Gen.listOfN(m, Gen.oneOf(pool))
  } yield vs.map(_.toIndexedSeq).toIndexedSeq

  /** A 2-D layout, translated, whose third cell at k = 3 loses both its
    * members to its neighbours in round 2 and stays empty: random points
    * almost never leave a cell empty under the quantile seeds. */
  private val stolenCell: Gen[IndexedSeq[Vec]] = for {
    dx <- Gen.choose(-3L, 3L)
    dy <- Gen.choose(-3L, 3L)
  } yield Seq((-2L, 1L) -> 3, (-1L, 3L) -> 4, (0L, -3L) -> 2, (1L, -3L) -> 5,
    (1L, -2L) -> 5, (2L, 1L) -> 2, (2L, 3L) -> 4)
    .flatMap { case ((x, y), n) => Seq.fill(n)(IndexedSeq(x + dx, y + dy)) }.toIndexedSeq

  private val anyShape = Gen.zip(Gen.choose(1, 6), Gen.choose(1, 6)) // (k, iters)
  private val stolenShape = Gen.zip(Gen.const(3), Gen.choose(2, 4))

  /** One fit's (points, k, iters): random points, or the empty-cell layout. */
  private val oneFit: Gen[(IndexedSeq[Vec], Int, Int)] = Gen.frequency(
    4 -> Gen.zip(Gen.choose(1, 3).flatMap(points(_, Gen.choose(1, 40))), anyShape),
    1 -> Gen.zip(stolenCell, stolenShape))
    .map { case (ps, (k, iters)) => (ps, k, iters) }

  private def asDoubles(v: Vec): Seq[Double] = v.map(_ / 1e6)

  test("fitArrayMicros: centroids and cells match the model") {
    check("array", Prop.forAllNoShrink(oneFit) { case (ps, k, iters) =>
      val df = ps.zipWithIndex.map { case (v, i) => (i.toLong, asDoubles(v)) }.toDF("id", "v")
      val (cells, out) = DeterministicKMeans.fitArrayMicros(df, "v", k, iters)
      val cs = model(ps, k, iters)
      val rows = out.select("id", "cell").as[(Long, Int)].collect().sortBy(_._1).map(_._2).toSeq
      cells == cs.zipWithIndex.map(_.swap) && rows == ps.map(nearest(cs, _))
    }, cases = 25)
  }

  test("fitGroupedArrayMicros: every group's centroids match the model") {
    val group = Gen.frequency(
      3 -> Gen.choose(1, 3).flatMap(points(_, Gen.choose(1, 20))), 1 -> stolenCell)
    val cases = for {
      m <- Gen.choose(1, 3)
      groups <- Gen.listOfN(m, group)
      (k, iters) <- Gen.oneOf(anyShape, stolenShape)
    } yield (groups, k, iters)
    check("grouped", Prop.forAllNoShrink(cases) { case (groups, k, iters) =>
      val df = groups.zipWithIndex.flatMap { case (ps, j) => ps.map(v => (j, asDoubles(v))) }
        .toDF("g", "v")
      DeterministicKMeans.fitGroupedArrayMicros(df, "g", "v", k, iters) ==
        groups.zipWithIndex.map { case (ps, j) =>
          j -> model(ps, k, iters).zipWithIndex.map(_.swap) }.toMap
    }, cases = 20)
  }

  test("assign: standardized micros and clusters match the model") {
    val cases = Gen.zip(points(2, Gen.choose(2, 30)), anyShape)
      .map { case (ps, (k, iters)) => (ps, k, iters) }
    check("assign", Prop.forAllNoShrink(cases) { case (ps, k, iters) =>
      val df = ps.zipWithIndex.map { case (v, i) => (i.toLong, v(0).toDouble, v(1).toDouble) }
        .toDF("id", "a", "b")
      val zs = standardize(ps)
      val cs = model(zs, k, iters)
      DeterministicKMeans.assign(df, Seq("a", "b"), k, iters)
        .select("id", "cluster").as[(Long, Int)].collect().sortBy(_._1).map(_._2).toSeq ==
        zs.map(nearest(cs, _))
    }, cases = 20)
  }
}

object DeterministicKMeansPropertySpec {
  type Vec = IndexedSeq[Long]
  private val byTuple: Ordering[Vec] = Ordering.Implicits.seqOrdering[IndexedSeq, Long]

  private def dist(a: Vec, b: Vec): BigInt =
    a.indices.map(i => BigInt(a(i) - b(i)).pow(2)).sum

  /** The nearest centroid, ties to the lowest id. */
  def nearest(cs: IndexedSeq[Vec], z: Vec): Int = cs.indices.minBy(c => (dist(z, cs(c)), c))

  private def halfAway(s: BigInt, w: BigInt): Long = {
    val q = (s.abs * 2 + w) / (w * 2)
    (if (s >= 0) q else -q).toLong
  }

  /** The protocol on one group's points: the centroids after `iters`
    * rounds, in cell-id order. */
  def model(points: Seq[Vec], k: Int, iters: Int): IndexedSeq[Vec] = {
    val distinct = points.groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
      .toIndexedSeq.sortBy(_._1)(byTuple)
    val nd = distinct.size
    var cs = (0 until k).map(i => i * nd / k).distinct.map(distinct(_)._1)
    for (_ <- 1 to iters) {
      val members = distinct.groupBy { case (v, _) => nearest(cs, v) }
      cs = cs.indices.map(c => members.get(c).fold(cs(c)) { ps =>
        val w = BigInt(ps.map(_._2).sum)
        cs(c).indices.map(i => halfAway(ps.map { case (v, n) => BigInt(v(i)) * n }.sum, w))
      })
    }
    cs
  }

  /** [[DeterministicKMeans.assign]]'s standardization, in the engine's
    * order of IEEE operations: sample std from the (here exact) sums, then
    * micros rounded half away from zero through `BigDecimal`, as Spark's
    * `round` does; a constant column reads 0. */
  def standardize(rows: IndexedSeq[Vec]): IndexedSeq[Vec] = {
    val cols = rows.head.indices.map { i =>
      val xs = rows.map(_(i).toDouble)
      val n = xs.size.toDouble
      val (sx, sxx) = (xs.sum, xs.map(x => x * x).sum)
      val mean = sx / n
      val std = math.sqrt((sxx - sx * sx / n) / (n - 1))
      xs.map(x => if (std > 0) BigDecimal((x - mean) / std * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong else 0L)
    }
    rows.indices.map(r => cols.map(_(r)))
  }
}
