package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Physical-layout sinks — the write-side half of the 100 TB posture. The
  * scan-side levers (partition pruning, predicate pushdown, broadcast
  * choice) are pinned in PartitioningSpec; these writers produce data laid
  * out so those levers fire on every downstream read:
  *
  *   - PARTITIONED writes (hive layout) make coarse predicates prune whole
  *     directories before a single byte is read; the optional within-file
  *     sort tightens parquet row-group min/max stats so residual predicates
  *     skip pages too.
  *   - BUCKETED writes pre-shuffle a table ONCE by its join/agg key; every
  *     later equi-join or aggregation on that key reads the co-located
  *     buckets and runs with ZERO exchanges — the amortization that turns a
  *     repeatedly-joined 100 TB fact table from n shuffles into one write.
  *
  * Both are thin, deliberately: the layout IS Spark's own (hive dirs,
  * bucket metadata in the catalog), so any Spark reader benefits without
  * custom scan code. LayoutOpsSpec pins the zero-exchange plans. They are
  * writers for a deployment's stored tables: no query face writes or
  * reads a bucketed copy of its index (the serving faces probe their
  * registry-persisted frames; DEPLOY measures the bucketed read-back as
  * neutral-to-negative on the serving probe).
  */
object LayoutOps {

  /** Hive-partitioned parquet write. `sortCols` additionally repartitions
    * by the partition columns (one file per directory instead of one per
    * input task) and sorts within files, so parquet row-group stats are
    * tight on the sort key.
    */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String],
                       sortCols: Seq[String] = Nil): Unit = {
    val arranged =
      if (sortCols.isEmpty) df
      else df.repartition(partCols.map(df.col): _*)
        .sortWithinPartitions((partCols ++ sortCols).map(df.col): _*)
    arranged.write.partitionBy(partCols: _*).mode(SaveMode.Overwrite).parquet(path)
  }

  /** Bucketed (+ optionally sorted) managed-table write: `nBuckets` files
    * hash-clustered by `bucketCol`, with the bucketing recorded in the
    * catalog so downstream joins/aggs on the key skip their exchange.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    // Overwrite replaces a CATALOG entry, but an in-memory catalog forgets
    // tables at JVM exit while their warehouse directories survive — a
    // later session then refuses the "already existing" orphan location.
    // Drop both: the entry (if any) and the leftover directory.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode(SaveMode.Overwrite).bucketBy(nBuckets, bucketCol)
    val ws = if (sortCols.isEmpty) w else w.sortBy(sortCols.head, sortCols.tail: _*)
    ws.format("parquet").saveAsTable(table)
  }
}
