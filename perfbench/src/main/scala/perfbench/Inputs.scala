package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import scala.util.Random

/** Seeded input generators. The engine never sees the seed: the benchmark
  * writes the generated rows to files and hands the engine their path.
  * The Adult rows need no generator here: [[AdultStudy]] draws them from
  * the test suite's golden fixture.
  */
object Inputs {

  /** A TPC-H-shaped trade graph: `orders(o_orderkey, o_custkey)` and
    * `lineitem(l_orderkey, l_suppkey)` at the proportions of scale factor
    * 0.01 (1,500 customers, 100 suppliers, 15,000 orders, 1-7 lines per
    * order). Only the key columns the graph queries read are written.
    */
  final case class TradeGraph(orders: Array[(Long, Long)], lineitems: Array[(Long, Long)]) {
    /** The (supplier node, customer node) pairs the queries derive:
      * supplier ids are offset by 10,000,000 into their own id range. */
    lazy val pairs: Array[(Long, Long)] = {
      val cust = orders.toMap
      lineitems.map { case (ok, sk) => (sk + 10000000L, cust(ok)) }.distinct
    }

    def write(spark: SparkSession, dir: Path): Unit = {
      import spark.implicits._
      orders.toSeq.toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(dir.resolve("orders.parquet").toString)
      lineitems.toSeq.toDF("l_orderkey", "l_suppkey")
        .write.mode("overwrite").parquet(dir.resolve("lineitem.parquet").toString)
    }
  }

  object TradeGraph {
    val Customers = 1500
    val Suppliers = 100
    val Orders = 15000

    def generate(seed: Long): TradeGraph = {
      val r = new Random(seed)
      val orders = Array.tabulate(Orders)(i => (i + 1L, 1L + r.nextInt(Customers)))
      val lines = orders.flatMap { case (ok, _) =>
        Array.fill(1 + r.nextInt(7))((ok, 1L + r.nextInt(Suppliers)))
      }
      TradeGraph(orders, lines)
    }
  }
}
