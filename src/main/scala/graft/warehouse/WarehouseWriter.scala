package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import graft.operators.MergeUpsert

/** Publishing sinks over a parquet lake (SURVEY.md S8/S9/S11).
  *
  * Every published row is stamped with `etl_inserted` (UTC now) and
  * `partition_value` (the run's partition date) exactly like the
  * reference's publish wrapper (reference: dags/utils/etl.py:63-82,
  * data_helper.py:50-51), and tables are laid out partitioned by
  * `partition_value` — the read side then prunes partitions from any
  * predicate on it.
  *
  * - [[overwritePartition]] == BigQuery's `table$YYYYMMDD` +
  *   WRITE_TRUNCATE load (data_helper.py:61-74): dynamic partition
  *   overwrite replaces only the day slice.
  * - [[mergeUpsert]] == the staged MERGE path (data_helper.py:76-106).
  */
final class WarehouseWriter(spark: SparkSession, lakeDir: String) {

  def path(layer: String, table: String): String = s"$lakeDir/$layer/$table"

  private def stamp(df: DataFrame, partition: String): DataFrame =
    df.withColumn("etl_inserted", current_timestamp())
      .withColumn("partition_value", to_date(lit(partition)))

  /** Replace one day partition (partitionOverwriteMode=dynamic is set
    * session-wide by GraftSession).
    *
    * `sortCols` orders rows within each written file so parquet
    * row-group min/max statistics become selective for predicates on
    * those columns — at 100 TB, sorting a fact partition by its common
    * filter key (e.g. user_id) lets scans skip most row groups. */
  def overwritePartition(df: DataFrame, layer: String, table: String,
                         partition: String,
                         sortCols: Seq[String] = Nil): Unit = {
    val stamped = stamp(df, partition)
    // partition_value leads the sort: the parquet writer REQUIRES its
    // output ordered by the partition column and would otherwise insert
    // a second full sort on top of ours
    val sorted =
      if (sortCols.isEmpty) stamped
      else stamped.sortWithinPartitions(
        (col("partition_value") +: sortCols.map(col)): _*)
    sorted.write.mode("overwrite")
      .partitionBy("partition_value")
      .parquet(path(layer, table))
  }

  /** Keyed upsert into a dim table. The table is laid out partitioned
    * on `partition_value` (the day each row version last landed) so the
    * merge rewrites only partitions containing matched keys — an
    * incremental dim merge touches the few days its keys last changed
    * on, never the whole table. */
  def mergeUpsert(df: DataFrame, layer: String, table: String,
                  partition: String, pks: Seq[String]): Unit =
    MergeUpsert.intoPartitionedPath(spark, path(layer, table),
      stamp(df, partition), pks, "partition_value")

  def exists(layer: String, table: String): Boolean =
    new org.apache.hadoop.fs.Path(path(layer, table))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path(layer, table)))

  /** Whether `table` holds a `partition_value` directory for the day
    * `partition` (an ISO date, as [[overwritePartition]] and
    * [[mergeUpsert]] stamp it). The name is built with Spark's own
    * partition-path escaping, so it matches what the partitioned write
    * produced; a write creates the directory only for a non-empty slice,
    * so this answers "does the day have rows" without a Spark job. */
  def hasPartition(layer: String, table: String, partition: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(path(layer, table),
      ExternalCatalogUtils.getPartitionPathString("partition_value", partition))
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
  }

  def read(layer: String, table: String): DataFrame =
    spark.read.parquet(path(layer, table))

  /** Read a table if present, else None (reference's read-or-skip
    * guards, etl.py:147 etc.). */
  def readIfExists(layer: String, table: String): Option[DataFrame] =
    if (exists(layer, table)) Some(read(layer, table)) else None
}
