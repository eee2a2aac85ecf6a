package graft.ops

import graft.{QueryCleanup, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Properties of the class-table t-closeness filter on generated small
  * tables: NULL QIs, single-row classes, duplicate rows and 2–6 sensitive
  * positions. The filter must release exactly the rows the windowed
  * formulation releases, every released class must be k-anonymous and
  * within t of the filter's basis, and the recheck against that basis
  * must find nothing. ScalaCheck runs directly (`Prop.forAll` +
  * `Test.check`) with a fixed seed, so every run checks the same tables. */
class TClosenessPropertySpec extends SparkSpec {
  import TClosenessPropertySpec._
  import spark.implicits._

  private val qis = Seq("a", "b")
  private def frame(c: Case): DataFrame = c.rows.toDF("id", "a", "b", "pos")

  private def table(positions: Gen[Long], minRows: Int, maxRows: Int): Gen[Seq[Row4]] =
    for {
      n <- Gen.choose(minRows, maxRows)
      rows <- Gen.listOfN(n, for {
        a <- Gen.frequency(4 -> Gen.oneOf("x", "y").map(Some(_)), 1 -> Gen.const(None))
        b <- Gen.frequency(4 -> Gen.choose(0, 2).map(Some(_)), 1 -> Gen.const(None))
        p <- positions
      } yield (a, b, p))
    } yield rows.zipWithIndex.map { case ((a, b, p), i) => (i.toLong, a, b, p) }

  // 2–6 positions drawn from a sparse range, so gaps between positions
  // (the EMD's ground distances) vary
  private val narrow: Gen[Case] = for {
    m <- Gen.choose(2, 6)
    domain <- Gen.pick(m, 0L to 12L)
    rows <- table(Gen.oneOf(domain.toSeq), 1, 40)
    k <- Gen.choose(1, 4)
    t <- Gen.oneOf(0.0, 0.05, 0.1, 0.25, 0.5, 1.0)
  } yield Case(rows, k, t)

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

  test("class-table filter releases the windowed filter's rows") {
    check("equivalence", Prop.forAll(narrow) { c =>
      val df = frame(c)
      ids(TCloseness.filter(df, qis, "pos", c.k, c.t)) ==
        ids(TCloseness.windowedFilter(df, qis, "pos", c.k, c.t)._1)
    }, cases = 20)
  }

  test("released classes are k-anonymous, within t of the basis, and recheck clean") {
    check("privacy", Prop.forAll(narrow) { c =>
      val df = frame(c)
      val (out, basis) = TCloseness.filterWithBasis(df, qis, "pos", c.k, c.t)
      val held = basis match {
        case TCloseness.EmdBasis.Held(b) => b.map { case (p, n) => (p.asInstanceOf[Long], n) }
        case other => fail(s"a ${c.rows.map(_._4).distinct.size}-position domain took $other")
      }
      // the basis is the k-anonymized input's distribution
      val classes = c.rows.groupBy(r => (r._2, r._3))
      val expectedBasis = classes.values.filter(_.size >= c.k).flatten
        .groupBy(_._4).map { case (p, rs) => p -> rs.size.toLong }.toIndexedSeq.sortBy(_._1)
      val released = out.select("a", "b", "pos").as[(Option[String], Option[Int], Long)]
        .collect().groupBy(r => (r._1, r._2))
      val classesOk = released.forall { case (key, rs) =>
        rs.length == classes(key).size && rs.length >= c.k &&
          emd(rs.groupBy(_._3).map { case (p, v) => p -> v.length.toLong }, held) <= c.t
      }
      held == expectedBasis && classesOk &&
        TCloseness.violationCount(out, qis, "pos", c.t, Some(basis)) == 0L
    }, cases = 15)
  }

  test("a MaxClassDomain-position domain stays on the class table, a wider one goes windowed, same rows") {
    val wide: Gen[Case] = for {
      d <- Gen.choose(TCloseness.MaxClassDomain + 1, TCloseness.MaxClassDomain + 6)
      rows <- table(Gen.const(0L), d + 1, d + 60)
      k <- Gen.choose(1, 3)
      t <- Gen.oneOf(0.5, 5.0, 20.0)
    } yield Case(rows.map { case (i, a, b, _) => (i, a, b, i % d) }, k, t)
    def sameRows(c: Case, windowed: Boolean): Boolean = {
      val df = frame(c)
      val out = TCloseness.filter(df, qis, "pos", c.k, c.t)
      out.queryExecution.optimizedPlan.toString.contains("Window") == windowed &&
        ids(out) == ids(TCloseness.windowedFilter(df, qis, "pos", c.k, c.t)._1)
    }
    check("domain bound", Prop.forAll(wide) { c =>
      val atBound = c.copy(rows = c.rows.map { case (i, a, b, _) =>
        (i, a, b, i % TCloseness.MaxClassDomain) })
      sameRows(c, windowed = true) && sameRows(atBound, windowed = false)
    }, cases = 4)
  }
}

object TClosenessPropertySpec {
  type Row4 = (Long, Option[String], Option[Int], Long)
  final case class Case(rows: Seq[Row4], k: Int, t: Double)
}
