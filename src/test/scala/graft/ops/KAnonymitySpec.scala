package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KAnonymitySpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    // (age, zip) QI; group sizes: (30,"A")->3, (40,"B")->2, (50,"C")->1
    (30, "A", 1), (30, "A", 2), (30, "A", 3),
    (40, "B", 4), (40, "B", 5),
    (50, "C", 6)
  ).toDF("age", "zip", "id")

  test("suppress keeps only groups with >= k members") {
    val out = KAnonymity.suppress(fixture, Seq("age", "zip"), 3)
    assert(out.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("suppress k=1 is identity, huge k empties") {
    assert(KAnonymity.suppress(fixture, Seq("age", "zip"), 1).count() == 6)
    assert(KAnonymity.suppress(fixture, Seq("age", "zip"), 100).count() == 0)
  }

  test("suppressSemiJoin agrees with suppress") {
    // NULL-QI classes: (NULL,"A") x2 and (NULL,NULL) x2 meet k = 2,
    // (30,NULL) x1 does not
    val withNulls = fixture.union(Seq[(Option[Int], Option[String], Int)](
      (None, Some("A"), 7), (None, Some("A"), 8), (Some(30), None, 9),
      (None, None, 10), (None, None, 11)).toDF("age", "zip", "id"))
    val a = KAnonymity.suppress(withNulls, Seq("age", "zip"), 2)
      .select("id").as[Int].collect().sorted.toSeq
    val b = KAnonymity.suppressSemiJoin(withNulls, Seq("age", "zip"), 2)
      .select("id").as[Int].collect().sorted.toSeq
    assert(a == Seq(1, 2, 3, 4, 5, 7, 8, 10, 11))
    assert(b == a)
  }

  test("groupSizes counts equivalence classes") {
    val gs = KAnonymity.groupSizes(fixture, Seq("age", "zip"))
      .as[(Int, String, Long)].collect().toSet
    assert(gs == Set((30, "A", 3L), (40, "B", 2L), (50, "C", 1L)))
  }

  test("vulnerableRecords attaches group size of at-risk groups") {
    val v = KAnonymity.vulnerableRecords(fixture, Seq("age", "zip"), 3)
      .select("id", "grp_cnt").as[(Int, Long)].collect().toSet
    assert(v == Set((4, 2L), (5, 2L), (6, 1L)))
  }

  test("vulnerableRecords keeps the records of a NULL-QI class below k") {
    val df = Seq[(Option[Int], String, Int)]((None, "A", 1), (Some(30), "B", 2))
      .toDF("age", "zip", "id")
    val ids = KAnonymity.vulnerableRecords(df, Seq("age", "zip"), 2)
      .select("id").as[Int].collect().sorted.toSeq
    assert(ids == Seq(1, 2))
  }

  test("property: suppressed output only has groups >= k and is a subset") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val k = 1 + rnd.nextInt(5)
      val rows = List.fill(60)((rnd.nextInt(6), rnd.nextInt(6)))
      val df = rows.zipWithIndex.map { case ((a, b), i) => (a, b, i) }
        .toDF("a", "b", "id")
      val out = KAnonymity.suppress(df, Seq("a", "b"), k).cache()
      val minSize = KAnonymity.groupSizes(out, Seq("a", "b"))
        .agg(min("grp_cnt")).as[Long].collect().headOption.filter(_ => out.count() > 0)
      minSize.foreach(m => assert(m >= k, s"trial $trial k=$k"))
      // subset: every surviving id existed in the input
      val ids = out.select("id").as[Int].collect().toSet
      assert(ids.subsetOf(rows.indices.toSet))
      out.unpersist()
    }
  }
}
