package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory tuned for the graft engine.
  *
  * Local-mode defaults with cluster posture: AQE on (runtime re-plan,
  * partition coalescing, skew-join splitting), shuffle partitions sized
  * to the local core count (on a real cluster this would be 2-3x total
  * executor cores, then AQE coalesces), UTC session time zone (the
  * warehouse stores UTC at rest, mirroring the reference's
  * `pd.to_datetime(..., utc=True)` normalization —
  * reference: dags/utils/common/data_helper.py:131-137).
  *
  * ANSI mode is off: the reference's parse semantics are
  * `errors='coerce'` (invalid input -> null, never an exception —
  * reference: dags/utils/etl.py:637-639), which matches Spark's
  * legacy non-ANSI behavior.
  */
object GraftSession {

  private lazy val warehouseDir: String =
    Fixtures.tempDir("graft-warehouse").toString

  def applyConfigs(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom-filter semi-join reduction: a selective join's
      // build side injects a bloom filter into the probe side's scan,
      // cutting shuffle volume before it happens — pinned on
      // explicitly (it is the single biggest free win for selective
      // fact-fact joins at 100 TB; the default has moved across
      // releases)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // storage-partitioned joins: honor DSv2-reported
      // KeyGroupedPartitioning (graft-jsonl opts in per-read via
      // `.option("spj", true)`) so co-partitioned layouts join and
      // aggregate without an exchange; pushPartValues pads mismatched
      // partition-value sets instead of refusing the co-location
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.parquet stores TIMESTAMP(NANOS) which Spark has no type
      // for; read as epoch-nanos long, converted in Tables.eventsRaw.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // native engine expressions (py_to_json) resolve by name
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      // catalog tables (bucketed layouts) go to a per-process tmp dir —
      // not the checkout, and not a fixed path two concurrent JVMs
      // would clobber
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")

  def builder(cores: Int): SparkSession.Builder =
    applyConfigs(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      cores)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
