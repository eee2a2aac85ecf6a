package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Bucketed managed tables — storage-level pre-shuffling, the Spark-native
  * answer to "this 100 TB fact table is joined/aggregated on the same key
  * every day". A bucketed write hash-partitions rows into a FIXED number
  * of buckets per key at write time; every later join or aggregation on
  * the bucket key reads that layout as a satisfied distribution
  * requirement and runs with ZERO shuffle exchange — the single biggest
  * recurring cost in a fact-to-fact join simply disappears from the plan
  * (verified by plan pin: no `Exchange hashpartitioning` on either side
  * of a bucketed-bucketed join; see PlanShapeSpec). Aggregations whose
  * keys CONTAIN the bucket key reuse the distribution too, so scan → join
  * → agg runs as one exchange-free stage pipeline (q95). With `sortCols`
  * the files are also sorted within buckets, letting the sort-merge join
  * skip its sort phase; a `merge` hint on the join keeps a small table
  * from being broadcast instead.
  *
  * The trade: the bucket count is frozen at write time (pick ~ data size
  * / healthy-partition size at the TARGET scale; both join sides must
  * use the SAME count and key to co-locate), and writes pay one shuffle
  * up front. That is the right trade exactly when the table is written
  * once and joined many times — a training corpus keyed by doc_id, a
  * fact table keyed by order key.
  *
  * Uses the session catalog's managed parquet tables (`saveAsTable` —
  * bucket metadata lives in the catalog, which is why a plain
  * `spark.read.parquet` of the same files would NOT get the exchange
  * elimination). No Hive dependency.
  */
object BucketedTable {

  /** Write `df` as a bucketed managed parquet table (overwriting any
    * previous table of that name). `sortCols` additionally sorts within
    * each bucket file. */
  def write(df: DataFrame, table: String, bucketCol: String,
            numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(numBuckets > 0, s"numBuckets=$numBuckets must be positive")
    // simple identifiers only: a 'db.tbl' name maps to warehouse/db.db/tbl
    // (not warehouse/db.tbl), so the stale-location pre-delete below would
    // miss the real path — and a path-ish name must never reach a
    // recursive delete
    require(table.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"BucketedTable: table name '$table' must be a simple unqualified " +
        "identifier ([A-Za-z][A-Za-z0-9_]*)")
    val spark = df.sparkSession
    // the session catalog is in-memory but the warehouse DIR persists
    // across JVMs: a location left by a previous process is unknown to
    // this catalog and makes saveAsTable fail with
    // LOCATION_ALREADY_EXISTS — clear both table and stale location
    drop(spark, table)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(java.net.URI.create(warehouse)),
      table.toLowerCase)
    val f = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (f.exists(loc)) f.delete(loc, true)
    val w: DataFrameWriter[Row] = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** The bucketed table, WITH its bucket metadata (reading the files
    * directly would lose it — and with it the exchange elimination). */
  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Drop a bucketed table and its files. */
  def drop(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
}
