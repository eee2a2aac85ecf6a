package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LDiversitySpec extends SparkSpec {
  import spark.implicits._

  // (zip) QI, `disease` sensitive; class A: 4 rows 2 values (3+1),
  // class B: 3 rows all the same value (homogeneous — the attack case),
  // class C: 2 rows 2 values (uniform).
  private def fixture = Seq(
    ("A", "flu", 1), ("A", "flu", 2), ("A", "flu", 3), ("A", "cold", 4),
    ("B", "hiv", 5), ("B", "hiv", 6), ("B", "hiv", 7),
    ("C", "flu", 8), ("C", "cold", 9)
  ).toDF("zip", "disease", "id")

  test("groupDiversity reports size, distinct count, and entropy per class") {
    val got = LDiversity.groupDiversity(fixture, Seq("zip"), "disease")
      .select(col("zip"), col("grp_cnt"), col("l_distinct"),
        round(col("entropy"), 9).as("entropy"))
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("A")._2 == 4 && got("A")._3 == 2)
    assert(got("B")._2 == 3 && got("B")._3 == 1)
    assert(got("C")._2 == 2 && got("C")._3 == 2)
    // closed-form checks: H(B) = 0 (homogeneous), H(C) = ln 2 (uniform),
    // H(A) = ln 4 - (3 ln 3) / 4
    assert(got("B")._4 == 0.0)
    assert(math.abs(got("C")._4 - math.log(2)) < 1e-9)
    assert(math.abs(got("A")._4 - (math.log(4) - 3 * math.log(3) / 4)) < 1e-9)
  }

  test("distinct l-diversity suppression drops homogeneous classes") {
    val kept = LDiversity.suppress(fixture, Seq("zip"), "disease", l = 2)
      .select("id").as[Int].collect().sorted.toSeq
    assert(kept == Seq(1, 2, 3, 4, 8, 9))
  }

  test("a NULL-QI class is audited and survives suppression when diverse") {
    // null zip is a real equivalence class (groupBy emits it); a plain
    // `=` semi-join would suppress rows 10/11 unconditionally.
    val withNull = fixture.union(Seq(
      (null.asInstanceOf[String], "flu", 10),
      (null.asInstanceOf[String], "cold", 11)).toDF("zip", "disease", "id"))
    val audit = LDiversity.groupDiversity(withNull, Seq("zip"), "disease")
      .filter(col("zip").isNull)
      .select("grp_cnt", "l_distinct").as[(Long, Long)].collect()
    assert(audit.toSeq == Seq((2L, 2L)))
    val kept = LDiversity.suppress(withNull, Seq("zip"), "disease", l = 2)
      .select("id").as[Int].collect().sorted.toSeq
    assert(kept == Seq(1, 2, 3, 4, 8, 9, 10, 11))
  }
}
