package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The six [[Ranking]] forms against a plain-Scala reference over
  * generated tables: duplicate values broken by an id, NULL first order
  * keys (dropped), NULL group or tag keys (dropped by the group forms),
  * a one-value domain, an empty input, and 1 and 7 input partitions. */
class RankingPropertySpec extends SparkSpec {
  import RankingPropertySpec.R
  import spark.implicits._

  private def generated(seed: Long, n: Int): Seq[R] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      R(i.toLong,
        if (rnd.nextInt(8) == 0) None else Some(s"g${rnd.nextInt(3)}"),
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(12).toDouble),
        (rnd.nextInt(19) - 6).toLong)
    }
  }

  private val tables: Seq[(String, Seq[R])] = Seq(
    "seed 7" -> generated(7L, 90),
    "seed 11" -> generated(11L, 40),
    "one value" -> (1 to 25).map(i => R(i.toLong, Some(s"g${i % 2}"), Some(4.0), i.toLong)),
    "empty" -> Nil)

  private def frame(rows: Seq[R], parts: Int): DataFrame =
    rows.toDF().repartition(parts)

  /** For every table and partitioning, `got` (id -> out) must equal
    * `want` computed from the rows. */
  private def check(got: DataFrame => DataFrame, want: Seq[R] => Map[Long, Long]): Unit =
    for ((name, rows) <- tables; parts <- Seq(1, 7)) {
      val g = got(frame(rows, parts)).select($"id", $"out".cast("long"))
        .as[(Long, Long)].collect()
      assert(g.length == g.map(_._1).distinct.length, s"$name, $parts parts: duplicate ids")
      assert(g.toMap == want(rows), s"$name, $parts parts")
    }

  // monotone in v: a coarse prefix of the (v, id) order
  private val bucket = floor($"v" / 5)

  /** Rows the forms keep, in (v, id) order: non-NULL v and, when
    * grouped, non-NULL group. */
  private def kept(rows: Seq[R], grouped: Boolean): Seq[R] =
    rows.filter(r => r.v.isDefined && (!grouped || r.g.isDefined))
      .sortBy(r => (r.v.get, r.id))

  private def perGroup(rows: Seq[R], grouped: Boolean)(f: Seq[R] => Seq[(Long, Long)]) =
    kept(rows, grouped).groupBy(r => if (grouped) r.g else None)
      .values.flatMap(f).toMap

  private def rowNumbers(rs: Seq[R]) = rs.zipWithIndex.map { case (r, i) => r.id -> (i + 1L) }
  private def runningSums(rs: Seq[R]) = rs.map(_.id).zip(rs.map(_.c).scanLeft(0L)(_ + _).tail)

  test("globalRowNumber and groupRowNumber equal the reference") {
    check(Ranking.globalRowNumber(_, Seq("v", "id"), bucket, "out"),
      perGroup(_, grouped = false)(rowNumbers))
    check(Ranking.groupRowNumber(_, Seq("g"), Seq("v", "id"), bucket, "out"),
      perGroup(_, grouped = true)(rowNumbers))
  }

  test("globalPrefixSum and groupPrefixSum equal the reference") {
    check(Ranking.globalPrefixSum(_, Seq("v", "id"), bucket, "c", "out"),
      perGroup(_, grouped = false)(runningSums))
    check(Ranking.groupPrefixSum(_, Seq("g"), Seq("v", "id"), bucket, "c", "out"),
      perGroup(_, grouped = true)(runningSums))
  }

  /** (tag, value, count) rows distinct on (tag, value), keyed by an id. */
  private def counts(rows: Seq[R]): Seq[R] =
    rows.groupBy(r => (r.g, r.v)).toSeq.sortBy(_._2.head.id)
      .map { case ((g, v), rs) => R(rs.head.id, g, v, rs.size.toLong) }

  private def before(rs: Seq[R]): Seq[(Long, Long)] =
    rs.map(r => r.id -> rs.filter(_.v.get < r.v.get).map(_.c).sum)

  test("valueCountsBefore and valueCountsBeforeByTag equal the reference") {
    def run(f: DataFrame => DataFrame)(df: DataFrame): DataFrame =
      f(df).withColumn("out", $"__before")
    // valueCountsBefore wants one row per value: take the g = "g0" slice
    check(df => run(Ranking.valueCountsBefore(_, "v", "c"))(
        df.filter($"g" === "g0").groupBy($"v").agg(min($"id").as("id"), count(lit(1)).as("c"))),
      rows => perGroup(counts(rows.filter(_.g.contains("g0"))).map(_.copy(g = None)),
        grouped = false)(before))
    check(df => run(Ranking.valueCountsBeforeByTag(_, "g", "v", "c"))(
        df.groupBy($"g", $"v").agg(min($"id").as("id"), count(lit(1)).as("c"))),
      rows => perGroup(counts(rows), grouped = true)(before))
  }

  test("only ops/Ranking builds value buckets from a bounds probe") {
    import graft.SourceScan.files
    val offenders = files.filterNot(_.getPath.endsWith("ops/Ranking.scala"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains("\"__bmn\""))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

object RankingPropertySpec {
  /** One input row: unique id, group (NULL allowed), first order key
    * (NULL allowed, duplicates common) and a summand. */
  case class R(id: Long, g: Option[String], v: Option[Double], c: Long)
}
