package graft.functions

import graft.SparkSpec
import graft.ops.TCloseness
import org.apache.spark.sql.functions._

class EmdAggregatorSpec extends SparkSpec {
  import spark.implicits._

  test("EmdAggregator agrees with the pure-DataFrame groupEmd") {
    val rows =
      (1 to 20).map(i => ("a", (i % 4).toDouble)) ++
        (1 to 10).map(i => ("b", (i % 2).toDouble)) ++
        (1 to 5).map(_ => ("c", 3.0))
    val df = rows.toDF("g", "pos").cache()

    val expected = TCloseness.groupEmd(df, Seq("g"), "pos")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("emd")).toMap

    val total = df.count().toDouble
    val global = df.groupBy("pos").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1) / total).toMap
    val emdCol = EmdAggregator.emd(global)
    val got = df.groupBy("g").agg(emdCol(col("pos")).as("emd"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("emd")).toMap

    assert(expected.keySet == got.keySet)
    assert(expected == got)
    df.unpersist()
  }
}
