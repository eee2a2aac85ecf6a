package graft.ops

import graft.{QueryCleanup, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Properties of the t-closeness entry points on generated tables: NULL
  * QIs, single-row classes, duplicate rows, NULL positions, and sensitive
  * domains of 2–6, 60–70 and over 1,000 positions. The reference is a
  * plain-Scala model — the classes, the basis their positions form, and
  * EmdAggregator.finish's loop — and the engine must match it exactly:
  * the same released ids from [[TCloseness.filter]] and the same double
  * per class from [[TCloseness.groupEmd]]. Released classes must be
  * k-anonymous and within t of the filter's basis, and the recheck against
  * that basis must find nothing. ScalaCheck runs directly (`Prop.forAll` +
  * `Test.check`) with a fixed seed, so every run checks the same tables. */
class TClosenessPropertySpec extends SparkSpec {
  import TClosenessPropertySpec._
  import spark.implicits._

  private val qis = Seq("a", "b")
  private def frame(c: Case): DataFrame = c.rows.toDF("id", "a", "b", "pos")

  /** Rows over `domain`: every position once, then `extra` random ones;
    * with `nulls`, about one row in ten has a NULL position. */
  private def table(domain: Seq[Long], extra: Int, nulls: Boolean): Gen[Seq[Row4]] = {
    val pos = if (nulls) Gen.frequency(9 -> Gen.oneOf(domain).map(Some(_)), 1 -> Gen.const(None))
      else Gen.oneOf(domain).map(Some(_))
    val key = for {
      a <- Gen.frequency(4 -> Gen.oneOf("x", "y").map(Some(_)), 1 -> Gen.const(None))
      b <- Gen.frequency(4 -> Gen.choose(0, 2).map(Some(_)), 1 -> Gen.const(None))
    } yield (a, b)
    for {
      rest <- Gen.listOfN(extra, pos)
      positions = domain.map(Some(_)) ++ rest
      keys <- Gen.listOfN(positions.size, key)
    } yield keys.zip(positions).zipWithIndex.map { case (((a, b), p), i) => (i.toLong, a, b, p) }
  }

  /** `width` positions drawn from a sparse range, so the gaps between them
    * (the EMD's ground distances) vary; t is `tPerPosition` times the
    * width, which scales it with the EMDs the domain yields. */
  private def cases(width: Gen[Int], extra: Gen[Int], nulls: Gen[Boolean],
                    tPerPosition: Gen[Double]): Gen[Case] = for {
    m <- width
    domain <- Gen.pick(m, 0L to 2L * m)
    e <- extra
    n <- nulls
    rows <- table(domain.toSeq.sorted, e, n)
    k <- Gen.choose(1, 4)
    f <- tPerPosition
  } yield Case(rows, k, f * m)

  private val tScale = Gen.oneOf(0.0, 0.05, 0.1, 0.2, 0.4, 1.0)
  private val narrow = cases(Gen.choose(2, 6), Gen.choose(0, 40), Gen.oneOf(false, false, true), tScale)
  private val mid = cases(Gen.choose(60, 70), Gen.choose(0, 60), Gen.oneOf(false, false, true), tScale)

  private def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().sorted.toSeq

  private def check(name: String, prop: Prop, cases: Int): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(cases)
      .withWorkers(1).withInitialSeed(Seed(42L))
    val result = Test.check(params, prop)
    QueryCleanup.drain()
    assert(result.passed, s"$name: ${result.status}")
  }

  /** EmdAggregator.finish's loop in plain Scala: the class `counts` against
    * the (position, count) basis in position order. */
  private def emd(counts: Map[Long, Long], basis: IndexedSeq[(Long, Long)]): Double = {
    val n = counts.values.sum.toDouble
    val total = basis.map(_._2).sum.toDouble
    var (cumP, cumQ, out) = (0.0, 0.0, 0.0)
    for (j <- 0 until basis.size - 1) {
      cumP += counts.getOrElse(basis(j)._1, 0L) / n
      cumQ += basis(j)._2 / total
      out += math.abs(cumP - cumQ) * (basis(j + 1)._1 - basis(j)._1)
    }
    out
  }

  private def classes(rows: Seq[Row4]): Map[Key, Seq[Row4]] = rows.groupBy(r => (r._2, r._3))

  /** The positions of `rows` with their counts, in position order; None
    * when one is NULL (the basis then measures nothing). */
  private def basisOf(rows: Iterable[Row4]): Option[IndexedSeq[(Long, Long)]] =
    Option.when(rows.forall(_._4.isDefined))(rows.groupBy(_._4.get)
      .map { case (p, rs) => p -> rs.size.toLong }.toIndexedSeq.sortBy(_._1))

  /** Each class's EMD against `basis`: None for a NULL basis or a class
    * holding a NULL position. */
  private def modelEmd(rows: Seq[Row4], basis: Option[IndexedSeq[(Long, Long)]]): Map[Key, Option[Double]] =
    classes(rows).map { case (key, rs) =>
      key -> basis.filter(_ => rs.forall(_._4.isDefined))
        .map(emd(rs.groupBy(_._4.get).map { case (p, v) => p -> v.size.toLong }, _))
    }

  /** The model filter: classes of at least k rows whose EMD against those
    * classes' basis is at most t. */
  private def modelFilter(c: Case): Seq[Long] = {
    val kept = classes(c.rows).filter(_._2.size >= c.k)
    val emds = modelEmd(kept.values.flatten.toSeq, basisOf(kept.values.flatten))
    kept.filter { case (key, _) => emds(key).exists(_ <= c.t) }.values.flatten.map(_._1).toSeq.sorted
  }

  private def engineEmd(df: DataFrame): Map[Key, Option[Double]] =
    TCloseness.groupEmd(df, qis, "pos").select("a", "b", "emd")
      .as[(Option[String], Option[Int], Option[Double])].collect()
      .map { case (a, b, e) => (a, b) -> e }.toMap

  private def matchesModel(c: Case): Boolean = {
    val df = frame(c)
    ids(TCloseness.filter(df, qis, "pos", c.k, c.t)) == modelFilter(c) &&
      engineEmd(df) == modelEmd(c.rows, basisOf(c.rows))
  }

  test("2-6 positions: filter and groupEmd match the plain-Scala model") {
    check("narrow", Prop.forAll(narrow)(matchesModel), cases = 20)
  }

  test("60-70 positions: filter and groupEmd match the plain-Scala model") {
    check("mid", Prop.forAll(mid)(matchesModel), cases = 8)
  }

  test("over 1,000 positions: filter and groupEmd match the plain-Scala model") {
    val wide = cases(Gen.const(1200), Gen.const(800), Gen.const(false), Gen.oneOf(0.03, 0.05))
      .map(_.copy(k = 2))
    check("wide", Prop.forAll(wide)(matchesModel), cases = 2)
  }

  test("released classes are k-anonymous, within t of the basis, and recheck clean") {
    check("privacy", Prop.forAll(narrow) { c =>
      val df = frame(c)
      val (out, basis) = TCloseness.filterWithBasis(df, qis, "pos", c.k, c.t)
      val kept = classes(c.rows).filter(_._2.size >= c.k).values.flatten
      // the basis is the k-anonymized input's distribution
      val expected = kept.groupBy(_._4).map { case (p, rs) => p -> rs.size.toLong }
      val held = basis.counts.map { case (p, n) => Option(p.toLong) -> n } ++
        Option.when(basis.nulls > 0)(Option.empty[Long] -> basis.nulls)
      val released = out.select("a", "b", "pos").as[(Option[String], Option[Int], Option[Long])]
        .collect().groupBy(r => (r._1, r._2))
      val classesOk = released.forall { case (key, rs) =>
        rs.length == classes(c.rows)(key).size && rs.length >= c.k &&
          emd(rs.groupBy(_._3.get).map { case (p, v) => p -> v.length.toLong },
            basis.counts.map { case (p, n) => p.toLong -> n }) <= c.t
      }
      held.toMap == expected && basis.counts.map(_._1) == basis.counts.map(_._1).sorted &&
        classesOk && TCloseness.violationCount(out, qis, "pos", c.t, Some(basis)) == 0L
    }, cases = 15)
  }
}

object TClosenessPropertySpec {
  type Row4 = (Long, Option[String], Option[Int], Option[Long])
  type Key = (Option[String], Option[Int])
  final case class Case(rows: Seq[Row4], k: Int, t: Double)
}
