package graft.sources.dsv2

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for JSONL corpora: `format("graft-jsonl")`.
  *
  * The full connector stack, honestly implemented:
  *   - `TableProvider` / `Table` with BATCH_READ capability and a
  *     DECLARED schema (defaults to [[graft.sources.JsonlCorpus.docSchema]];
  *     callers pass `.schema(...)` for other corpora — inference is
  *     deliberately not offered, same contract as `JsonlCorpus`);
  *   - `SupportsPushDownRequiredColumns`: only requested fields are
  *     MATERIALIZED per line (the parser still tokenizes the line —
  *     JSONL has no columnar layout — but per-row object/UTF8String
  *     allocation tracks the pruned schema, and `.explain` shows the
  *     pruned ReadSchema);
  *   - `SupportsPushDownFilters`: Eq/In/IsNull/IsNotNull/Lt/Gt(/Eq)
  *     on top-level long/double/string/boolean fields evaluate INSIDE
  *     the reader, before any row object is built — at 100 TB a
  *     selective lang filter means the scan emits ~1/20th of the rows
  *     into the query, and `.explain` shows PushedFilters;
  *   - one `InputPartition` per file: parallelism = shard count, the
  *     natural JSONL unit (shards are written one-per-task upstream;
  *     gzip members are not splittable anyway).
  *
  * Malformed lines are SKIPPED at the reader (this connector is the
  * clean-path scan; use `JsonlCorpus.read` when corrupt-line
  * accounting is needed — its `_corrupt` contract needs the row to
  * survive, which contradicts reader-level pushdown). */
class JsonlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-jsonl"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.sources.JsonlCorpus.docSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    // a path-based save honors .partitionBy(...): identity transforms
    // become the hive-style dir routing the catalog path also uses
    // (values ride the dirs, not the JSON lines)
    new JsonlTable(schema, properties.get("path"),
      partCols = partitioning.toSeq.collect {
        case t if t.name == "identity" && t.references.length == 1 =>
          t.references()(0).fieldNames().mkString(".")
      },
      props = properties.asScala.toMap)
}

object JsonlTable {
  /** Row-level operation mode: `copy-on-write` (default — group
    * rewrite) or `merge-on-read` (position-delete sidecars). */
  val RowLevelModeProp = "graft.row-level.mode"

  /** StructField-metadata key carrying a renamed column's FORMER JSON
    * keys (newest first) — RENAME COLUMN is a metadata edit, not a
    * data rewrite, so shards written before the rename still hold the
    * old key and the reader falls back through this list (Iceberg's
    * field-id indirection, re-expressed as name aliases for a
    * name-keyed format). Rides inside the schema JSON, so it reaches
    * every reader with zero extra plumbing and survives the catalog
    * round-trip. */
  val AliasesKey = "graft.aliases"

  /** The former-names list of a field ([[AliasesKey]]), empty when
    * never renamed. */
  def aliasesOf(f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(AliasesKey))
      f.metadata.getStringArray(AliasesKey).toSeq
    else Nil

  /** StructField-metadata key carrying a PARTITION column's former
    * DISPLAY names (newest first). Directory segments are a separate
    * key namespace from JSON body keys: `k=v` dir names always use the
    * DISPLAY name at write time (never [[PhysicalKeyMeta]]), so a
    * metadata-only RENAME of a partition column records the old name
    * HERE and every segment parse canonicalizes old-named dirs to the
    * current column ([[segmentAliasesOf]]) — pre-rename directories
    * stay readable AND prunable with zero rewrite, exactly like the
    * body-key aliasing of [[AliasesKey]]. A full rewrite followed by
    * `CALL evolve_partitioning` prunes aliases no live dir uses. */
  val PartAliasesKey = "graft.part.aliases"

  /** Former display names of a (current or former) partition column
    * ([[PartAliasesKey]]), empty when never renamed as one. */
  def partAliasesOf(f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(PartAliasesKey))
      f.metadata.getStringArray(PartAliasesKey).toSeq
    else Nil

  /** Directory-segment canonicalization map: former partition-column
    * display name → current name, across all fields. ADD/RENAME refuse
    * a new display name that matches any live partition alias, so keys
    * here never shadow a current field name. */
  def segmentAliasesOf(schema: StructType): Map[String, String] =
    schema.fields.iterator.flatMap(f =>
      partAliasesOf(f).iterator.map(_ -> f.name)).toMap

  /** All live partition aliases (the display names [[segmentAliasesOf]]
    * would fold) — the namespace ADD/RENAME COLUMN must keep clear. */
  def partAliasNames(schema: StructType): Set[String] =
    schema.fields.iterator.flatMap(partAliasesOf(_).iterator).toSet

  /** Table property declaring the table's WRITE-TIME clustering: with
    * `graft.write.order = 'k,ts'`, every batch INSERT/OVERWRITE asks
    * Spark for a RANGE distribution + within-task sort on those
    * columns (partition columns prefixed on a partitioned table), so
    * plain appends land range-disjoint shards whose write-time skip
    * stats ([[JsonlSkipIndex.ColumnsProperty]]) prune immediately —
    * Delta's liquid-clustering idea at its simplest: `CALL
    * cluster_table` becomes periodic maintenance for accumulated
    * small shards, not a prerequisite for skipping. */
  val WriteOrderProp = "graft.write.order"

  def writeOrderOf(props: Map[String, String]): Seq[String] =
    props.get(WriteOrderProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** VERIFY-ONLY variant of [[WriteOrderProp]] (write option): the
    * writers measure per-file sortedness on these columns and record
    * the held prefix in the skip entries, but the write does NOT
    * request a distribution/sort — for rewrites that already sort
    * their plan themselves (`CALL cluster_table`'s staging write),
    * where a required ordering would stack a redundant shuffle. */
  val VerifyOrderProp = "graft.write.order.verify"

  def verifyOrderOf(props: Map[String, String]): Seq[String] =
    props.get(VerifyOrderProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** StructField-metadata key carrying a field's PHYSICAL JSON key
    * when it differs from the display name — the indirection DROP +
    * re-ADD needs: a dropped column's key is TOMBSTONED
    * ([[TombstonedKeysProp]]), and a later ADD COLUMN under the same
    * name binds to a FRESH key (`name__2`, `name__3`, …), so old
    * shards' values for the dropped column can never resurrect under
    * the re-added one (they yield null, exactly like any
    * schema-on-read ADD). Writers emit the physical key; readers look
    * it up FIRST, before the rename-alias fallback. Rides in the
    * schema JSON like [[AliasesKey]]. */
  val PhysicalKeyMeta = "graft.key"

  /** Table property accumulating the JSON keys of DROPPED columns
    * (comma-separated): dead keys a future column must never bind to. */
  val TombstonedKeysProp = "graft.tombstoned.keys"

  def physicalKeyOf(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKeyMeta))
      f.metadata.getString(PhysicalKeyMeta)
    else f.name

  /** Physical key of display-name `name` in `schema` (the name itself
    * when absent/unkeyed). */
  def physicalKeyOf(schema: StructType, name: String): String =
    schema.fields.find(_.name == name).map(physicalKeyOf).getOrElse(name)

  def tombstonedKeysOf(props: Map[String, String]): Set[String] =
    props.get(TombstonedKeysProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet

  /** Re-graft per-field connector metadata (physical key, rename
    * aliases) from the TABLE schema onto a write/query schema: Spark's
    * output resolution (`info.schema()`) builds the write schema from
    * the QUERY's attributes, which can silently drop the table
    * fields' metadata — and a writer that loses `graft.key` would
    * emit a re-added column under its TOMBSTONED key. Matched by
    * name; query-only columns (none, after resolution) pass through. */
  def withFieldMeta(tableSchema: StructType, writeSchema: StructType)
      : StructType =
    StructType(writeSchema.fields.map { f =>
      tableSchema.fields.find(_.name == f.name) match {
        case Some(tf) if tf.metadata != f.metadata =>
          f.copy(metadata = tf.metadata)
        case _ => f
      }
    })

  /** Table property: with `graft.snapshot.auto = 'true'`, every
    * committed write (batch INSERT/OVERWRITE, streaming epoch,
    * copy-on-write group rewrite, merge-on-read delta) PINS a snapshot
    * version — `CALL snapshot` becomes implicit per commit, so the
    * change-data feed ([[JsonlChangesSource]]) tails plain INSERT
    * traffic with per-commit granularity. Pins are LOCK-FREE
    * (claim-CAS version assignment — see [[JsonlSnapshots.autoPin]]),
    * so no commit blocks, serializes, or skips on their account;
    * `CALL expire_snapshots` bounds the history. */
  val AutoSnapshotProp = "graft.snapshot.auto"

  def autoSnapshotOf(props: Map[String, String]): Boolean =
    props.get(AutoSnapshotProp).exists(_.trim.equalsIgnoreCase("true"))

  /** Partition-spec EVOLUTION marker (`CALL evolve_partitioning`):
    * the semicolon-joined list of OTHER specs still present in the
    * live layout. While non-empty the table is multi-generation:
    * dynamic partition overwrite refuses (replacing the touched
    * NEW-layout dirs would leave an old generation's copy of the same
    * logical partition live beside the overwrite), and the SPJ
    * path-read opt-in must not be used (old-generation shards don't
    * pin the current spec's columns). Reads, appends, static
    * partition overwrite, row-level ops, compact, and snapshots are
    * generation-agnostic — every reader resolves partition values
    * per SHARD (path segments first, JSON body fallback), and
    * per-shard pruning admits a shard unless its OWN path contradicts
    * the filter. */
  val LegacySpecsProp = "graft.partition.legacy.specs"

  def legacySpecsOf(props: Map[String, String]): Seq[String] =
    props.get(LegacySpecsProp).map(_.split(";").toSeq).getOrElse(Nil)

  /** Equality-delete upsert tier ([[JsonlEqDeletes]]): comma-separated
    * key columns. When set, every plain APPEND commit is an upsert
    * wave — one key file + stamped insert shards, O(|batch|), no
    * target scan. Validated at CREATE/ALTER (columns exist, types
    * BIGINT/INT/STRING, incompatible with `graft.snapshot.auto`). */
  val UpsertKeysProp = "graft.upsert.keys"

  def upsertKeysOf(props: Map[String, String]): Seq[String] =
    props.get(UpsertKeysProp).map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** At-rest shard format: `jsonl` (default — gzip line-JSON) or
    * `parquet` (zstd columnar, [[GraftParquetShard]]). Names the WRITE
    * side only: readers dispatch per file on the extension, so a table
    * converted mid-life reads correctly while both populations
    * coexist (full rewrite via `CALL compact` / `cluster_table`
    * finishes a conversion). All connector metadata — skip index,
    * snapshots, CDC, equality-delete waves, position-delete sidecars —
    * is keyed by shard paths and row ordinals and carries over
    * unchanged. */
  val FormatProp = "graft.format"

  def formatOf(props: Map[String, String]): String =
    props.get(FormatProp).map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty).getOrElse("jsonl")

  /** ANALYZE output (`CALL analyze_table`): a JSON document in the
    * table spec carrying row count, per-column NDV/null/min/max stats,
    * and the content fingerprint of the layout it was computed over —
    * served to Spark's CBO through `estimateStatistics` ONLY while the
    * fingerprint still matches ([[JsonlLayout.statsFingerprint]]), the
    * stale-stats conservatism rule: an appended shard, a new delete
    * sidecar, or a pending upsert wave all invalidate rather than
    * mislead join reordering. */
  val StatsProp = "graft.stats"

  /** Parquet write-path tuning (validated at CREATE/ALTER):
    * `graft.parquet.compression` picks the codec — zstd (default,
    * best bytes-at-rest), snappy/lz4 (cheapest CPU), gzip,
    * uncompressed — and `graft.parquet.compression.level` tunes
    * zstd's effort (1-22; parquet's own default is 3). Rendered as
    * Hadoop-conf overrides riding the write's serialized conf
    * ([[JsonlHadoopConf.fromSession]]), so every sink — batch,
    * streaming epochs, COW/MOR rewrites, compact/convert — honors the
    * table's setting without new plumbing. */
  val ParquetCompressionProp = "graft.parquet.compression"
  val ParquetCompressionLevelProp = "graft.parquet.compression.level"
  val ParquetCodecs: Set[String] =
    Set("zstd", "gzip", "snappy", "lz4", "uncompressed")

  /** The Hadoop-conf override map a write derives from table props. */
  def parquetWriteConf(props: Map[String, String]): Map[String, String] =
    props.view.filterKeys(k => k == ParquetCompressionProp ||
      k == ParquetCompressionLevelProp).toMap

  def validateParquetCompression(props: Map[String, String]): Unit = {
    props.get(ParquetCompressionProp).foreach { v =>
      require(ParquetCodecs.contains(v.trim.toLowerCase(java.util.Locale.ROOT)),
        s"$ParquetCompressionProp must be one of " +
          s"${ParquetCodecs.toSeq.sorted.mkString(", ")}, got '$v'")
    }
    props.get(ParquetCompressionLevelProp).foreach { v =>
      val l = try v.trim.toInt catch { case _: Exception =>
        throw new IllegalArgumentException(
          s"$ParquetCompressionLevelProp must be an integer, got '$v'") }
      require(l >= 1 && l <= 22,
        s"$ParquetCompressionLevelProp must be in [1, 22], got $l")
      val codec = props.getOrElse(ParquetCompressionProp, "zstd")
        .trim.toLowerCase(java.util.Locale.ROOT)
      require(codec == "zstd",
        s"$ParquetCompressionLevelProp applies to zstd only (codec is '$codec')")
    }
  }
}

class JsonlTable(tableSchema: StructType, path: String,
                 partCols: Seq[String] = Nil,
                 props: Map[String, String] = Map.empty,
                 snapshot: JsonlSnapshots.Manifest = null)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  require(path != null, "graft-jsonl requires a path (use .load/.save(path))")
  // partition-column rename support: segment canonicalization (former
  // dir-segment name → current column) and its reverse (current column
  // → former names) for the ops that must SWEEP old-named dirs
  private lazy val segAliases: Map[String, String] =
    JsonlTable.segmentAliasesOf(schema())
  private lazy val segAliasesRev: Map[String, Seq[String]] =
    schema().fields.iterator
      .map(f => f.name -> JsonlTable.partAliasesOf(f))
      .filter(_._2.nonEmpty).toMap
  override def name(): String =
    if (snapshot == null) s"graft-jsonl `$path`"
    else s"graft-jsonl `$path` @v${snapshot.id}"
  /** Table root, for content-identity hashing by readers that pin a
    * derived artifact to this table's state (ANN index staleness —
    * [[graft.llm.IndexStamp]]). */
  private[graft] def tableDir: String = path
  /** Columns EXACTLY verified duplicate-free by `CALL analyze_table`
    * and still fingerprint-fresh — the table-shaped carrier of the
    * eager-aggregation premise ([[graft.plans.EagerAggregation]] runs
    * in the operator-optimization batch, before scan pushdown, so it
    * sees tables, not scans). Probed at most once per table instance
    * (loadTable is per-query); tables without a unique verification
    * pay nothing. */
  lazy val freshTableStats: Option[JsonlTableStats.TableStats] =
    if (snapshot != null) None
    else props.get(JsonlTable.StatsProp)
      .flatMap(JsonlTableStats.fromJson).filter { s =>
        val p = new Path(path)
        s.fingerprint == JsonlLayout.statsFingerprint(
          p.getFileSystem(JsonlHadoopConf.fromSession().value), p)
      }

  lazy val freshUniqueColumns: Set[String] = {
    // cheap pre-check before the fingerprint listing: tables whose
    // stats carry no uniqueness verification pay nothing here
    val parsed = props.get(JsonlTable.StatsProp)
      .flatMap(JsonlTableStats.fromJson)
    if (!parsed.exists(_.cols.exists(_._2.unique))) Set.empty
    else freshTableStats.map(_.cols.collect {
      case (n, c) if c.unique => n }.toSet).getOrElse(Set.empty)
  }
  /** Snapshot reads serve the schema AS OF the snapshot — a later
    * ADD COLUMN must not change what version N answers. */
  override def schema(): StructType =
    if (snapshot == null) tableSchema else snapshot.schema
  override def properties(): java.util.Map[String, String] = props.asJava
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    // reported for the CURRENT spec even on a multi-generation layout
    // (partition evolution): Spark uses these transforms for INSERT
    // PARTITION validation and partition management, not for keyed
    // co-location — SPJ is a separate path-read opt-in
    // (`.option("spj", true)`), which a multi-generation layout must
    // not use until unified (old-generation shards don't pin the
    // current spec's columns)
    partCols.map(org.apache.spark.sql.connector.expressions.Expressions.identity)
      .toArray
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlScanBuilder(schema(), path,
      options.getLong("maxFileAgeMs", JsonlMicroBatchStream.DefaultMaxFileAgeMs),
      options.getBoolean("spj", false),
      snapshot,
      // declared skip/cluster columns are runtime-filterable: a DPP-
      // style IN filter from a broadcast dim prunes SHARDS through the
      // skip index (min/max/bloom), not just partition dirs
      runtimeSkipCols = (JsonlSkipIndex.skipColsOf(props) ++
        JsonlTable.writeOrderOf(props)).distinct,
      format = JsonlTable.formatOf(props),
      statsJson = props.getOrElse(JsonlTable.StatsProp, null))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(snapshot == null,
      s"graft-jsonl: ${name()} is a snapshot — snapshots are read-only")
    new JsonlWriteBuilder(
      JsonlTable.withFieldMeta(schema(), info.schema()), path,
      info.queryId(), partCols,
      JsonlSkipIndex.skipColsOf(props), JsonlTable.writeOrderOf(props),
      JsonlTable.autoSnapshotOf(props),
      multiGeneration = props.contains(JsonlTable.LegacySpecsProp),
      upsertKeys = JsonlTable.upsertKeysOf(props),
      verifyOrder = JsonlTable.verifyOrderOf(props),
      format = JsonlTable.formatOf(props),
      parquetConf = JsonlTable.parquetWriteConf(props))
  }

  /** Drop every data entry under the table root, keeping metadata
    * (`_`/`.`-prefixed — table spec, stream log): the shared wipe
    * behind SQL `TRUNCATE TABLE` and the unconditional `DELETE FROM`. */
  private def dropAllData(): Unit = {
    val fs = pmFs
    if (!fs.exists(new Path(path))) return
    underTableLock(fs, "truncate") {
      JsonlShards.retireAll(fs, new Path(path))
    }
  }

  /** SQL `TRUNCATE TABLE`: the statement form of [[dropAllData]]. */
  override def truncateTable(): Boolean = { dropAllData(); true }

  // --------------------------------------------- metadata columns
  //
  // `_shard`: the source shard file path, injected by the reader the
  // same way partition values are — `SELECT _shard, * FROM t` gives
  // row provenance, and the row-level operations below anchor their
  // rewrite on it (requiredMetadataAttributes), which routes Spark's
  // ReplaceData through the projection-applying write path.
  // `_pos` joins it as the second row-id component for merge-on-read:
  // the 0-based physical line ordinal within the shard — stable for
  // the shard's lifetime because shards are immutable once published.
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_shard"
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "source shard file path"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "physical line ordinal within the shard"
      })

  // ------------------------------------------- row-level SQL surface
  //
  // MERGE INTO / UPDATE / row-level DELETE via Spark's GROUP-BASED
  // rewrite (copy-on-write, the Iceberg COW design): Spark reads the
  // target through the operation's scan, computes the complete
  // post-operation content of the AFFECTED GROUPS itself
  // (RewriteMergeIntoTable / RewriteUpdateTable /
  // RewriteDeleteFromTable + RowLevelOperationRuntimeGroupFiltering),
  // and hands it to the operation's write. The group granularity here
  // is the partition directory: runtime group filtering DPPs the scan
  // down to affected partitions, [[JsonlScan.planInputPartitions]]
  // records the shards the scan settled on, and the write's commit
  // swaps exactly those shards for the staged replacement — untouched
  // partitions are never read or rewritten. Unpartitioned tables
  // degrade to whole-table COW (one implicit group). The incremental
  // O(|delta|) path for fact-scale upserts stays
  // [[graft.operators.MergeUpsert]]; partition-predicate DELETEs
  // never get here — Spark consults [[canDeleteWhere]] first and
  // takes the metadata-only directory drop.
  // Mode selection is a TABLE property (`graft.row-level.mode`,
  // Iceberg's write.*.mode contract): `copy-on-write` (default) takes
  // the group rewrite above; `merge-on-read` takes the delta-based
  // position-delete path ([[JsonlMorRowLevelOperation]]) — a small
  // MERGE then writes sidecars + new rows and rewrites ZERO shards.
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(snapshot == null,
      s"graft-jsonl: ${name()} is a snapshot — snapshots are read-only")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        props.getOrElse(JsonlTable.RowLevelModeProp, "copy-on-write") match {
          case "copy-on-write" =>
            new JsonlRowLevelOperation(info.command(), tableSchema, path,
              partCols, JsonlSkipIndex.skipColsOf(props),
              JsonlTable.autoSnapshotOf(props),
              JsonlTable.formatOf(props),
              JsonlTable.parquetWriteConf(props))
          case "merge-on-read" =>
            new JsonlMorRowLevelOperation(info.command(), tableSchema, path,
              partCols, JsonlSkipIndex.skipColsOf(props),
              JsonlTable.autoSnapshotOf(props),
              JsonlTable.formatOf(props),
              JsonlTable.parquetWriteConf(props))
          case other => throw new IllegalArgumentException(
            s"graft-jsonl: unknown ${JsonlTable.RowLevelModeProp} '$other' " +
              "(expected copy-on-write or merge-on-read)")
        }
    }
  }

  // --------------------------------------------- partition management
  //
  // The hive layout IS the partition metadata, so SHOW PARTITIONS /
  // ALTER TABLE ADD|DROP PARTITION are directory operations — the
  // same O(partitions) class as DELETE below. An ADD'ed partition is
  // an empty `k=v/` dir (visible to SHOW, readable as zero rows);
  // DROP removes the directory and its shards. Properties/metadata
  // per partition have no storage here and are refused.

  override def partitionSchema(): StructType =
    StructType(partCols.map(c => tableSchema(tableSchema.fieldIndex(c))))

  private def identValues(ident: InternalRow): Seq[Option[String]] = {
    val ps = partitionSchema()
    ps.fields.indices.map { i =>
      if (ident.isNullAt(i)) None
      else Some(JsonlLayout.partValueString(ident, i, ps.fields(i).dataType))
    }
  }

  /** Every directory this logical partition may live under: the
    * current-name dir plus pre-rename variants
    * ([[JsonlLayout.aliasVariantDirs]]). Drop/truncate/exists operate
    * on the logical partition, so they sweep all of them; creates
    * target the head (current names) only. */
  private def identDirs(ident: InternalRow): Seq[Path] =
    JsonlLayout.aliasVariantDirs(
      JsonlLayout.relDirOf(partCols, identValues(ident)), segAliasesRev)
      .map(new Path(path, _))

  private def pmFs = new Path(path)
    .getFileSystem(JsonlHadoopConf.fromSession().value)

  override def createPartition(ident: InternalRow,
                               properties: java.util.Map[String, String]): Unit = {
    if (partCols.isEmpty) throw new UnsupportedOperationException(
      "graft-jsonl: table is not partitioned")
    if (properties != null && !properties.isEmpty)
      throw new UnsupportedOperationException(
        "graft-jsonl: partition properties have no storage in the layout")
    val fs = pmFs
    if (identDirs(ident).exists(fs.exists))
      throw new org.apache.spark.sql.catalyst.analysis.PartitionsAlreadyExistException(
        name(), ident, partitionSchema())
    fs.mkdirs(identDirs(ident).head)
  }

  /** The `_rlo_lock` every destructive partition/table operation holds
    * (TRUNCATE, DROP/TRUNCATE PARTITION, metadata DELETE) — the same
    * contract as the overwrite branches of [[JsonlBatchWrite.commit]]:
    * a concurrent row-level commit can't race the drop, and a CALL
    * snapshot can't pin a half-dropped layout. */
  private def underTableLock[T](fs: FileSystem, op: String)(body: => T): T = {
    val lease = RowLevelLock.acquire(fs, JsonlHadoopConf.fromSession().value,
      new Path(path), s"$op-${java.util.UUID.randomUUID}")
    try body finally RowLevelLock.release(fs, lease)
  }

  override def dropPartition(ident: InternalRow): Boolean = {
    if (partCols.isEmpty) return false
    val fs = pmFs
    // the logical partition may span a current-name dir AND pre-rename
    // variants — dropping it sweeps every one
    val dirs = identDirs(ident).filter(fs.exists)
    if (dirs.isEmpty) return false
    val root = new Path(path)
    underTableLock(fs, "drop-partition") {
      JsonlShards.retire(fs, root,
        dirs.flatMap(JsonlLayout.discover(fs, _).map(_._1)),
        dirs.map(JsonlShards.relOf(fs, root, _)))
      dirs.foreach(fs.delete(_, true))
      // prune now-empty ancestors so intermediate values leave the layout
      JsonlShards.pruneEmptyDirs(fs, root, dirs.map(_.getParent))
    }
    true
  }

  override def partitionExists(ident: InternalRow): Boolean =
    partCols.nonEmpty && {
      val fs = pmFs
      identDirs(ident).exists(fs.exists)
    }

  override def replacePartitionMetadata(
      ident: InternalRow, properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-jsonl: partition properties have no storage in the layout")

  override def loadPartitionMetadata(ident: InternalRow)
      : java.util.Map[String, String] = java.util.Collections.emptyMap()

  override def listPartitionIdentifiers(
      names: Array[String], ident: InternalRow): Array[InternalRow] = {
    if (partCols.isEmpty) return Array.empty
    val ps = partitionSchema()
    require(names.length == ident.numFields,
      s"filter names (${names.length}) != ident arity (${ident.numFields})")
    val wanted: Map[String, Option[String]] = names.zipWithIndex.map {
      case (n, i) =>
        val fi = ps.fieldIndex(n)
        n -> (if (ident.isNullAt(i)) None
              else Some(JsonlLayout.partValueString(ident, i, ps.fields(fi).dataType)))
    }.toMap
    // walk k=v dirs (NOT shards: an ADD'ed-but-empty partition must
    // list) to full partitioning depth, then filter on the given values
    val fs = pmFs
    val root = new Path(path)
    if (!fs.exists(root)) return Array.empty
    def walk(dir: Path, depth: Int, acc: Map[String, Option[String]])
        : Seq[Map[String, Option[String]]] = {
      if (depth == partCols.length) return Seq(acc)
      fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap { d =>
          val Array(k0, v) = d.getPath.getName.split("=", 2)
          val k = segAliases.getOrElse(k0, k0) // pre-rename dir names
          if (k != partCols(depth)) Nil
          else walk(d.getPath, depth + 1, acc + (k ->
            (if (v == JsonlLayout.NullPartition) None
             else Some(JsonlLayout.unescapePathName(v)))))
        }
    }
    // dir text types as scans read it (a `p=abc` under BIGINT is the
    // null partition); deduplicated AFTER typing — a logical partition
    // may live under a current-name dir and a pre-rename variant, or
    // under a stray dir and `__HIVE_DEFAULT_PARTITION__` — one
    // identifier, not two
    val zone = ShardRowReader.sessionZone(JsonlHadoopConf.fromSession())
    walk(root, 0, Map.empty)
      .filter(pv => wanted.forall { case (k, v) => pv.get(k).contains(v) })
      .map(pv => ps.fields.toSeq.map(f =>
        ShardRowReader.partConst(pv(f.name), f.dataType, zone)))
      .distinct
      .map(vs => new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(vs.toArray): InternalRow)
      .toArray
  }

  override def truncatePartition(ident: InternalRow): Boolean = {
    val fs = pmFs
    val dirs = identDirs(ident).filter(fs.exists)
    if (dirs.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        name(), ident, partitionSchema())
    // the emptied dirs stay: SHOW PARTITIONS still lists the partition
    val root = new Path(path)
    underTableLock(fs, "truncate-partition") {
      JsonlShards.retire(fs, root, dirs.flatMap(JsonlShards.shardsIn(fs, _)),
        dirs.map(JsonlShards.relOf(fs, root, _)))
    }
    true
  }

  // ------------------------------------------------------ DELETE WHERE
  //
  // Metadata-only deletes: a predicate that touches ONLY partition
  // columns selects whole partition directories, so DELETE FROM is a
  // directory drop — no rewrite, no read, the O(partitions) path a
  // 100 TB table needs. Anything finer-grained is refused
  // (canDeleteWhere false) and Spark surfaces the unsupported-delete
  // error instead of silently rewriting data; row-level removal goes
  // through [[graft.operators.MergeUpsert.deleteFromPartitionedPath]].
  //
  // `admits` is exact here (each dir pins the column to one value), so
  // a dir matches the delete predicate iff EVERY row in it does.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    // an unconditional DELETE FROM t arrives as AlwaysTrue (or an empty
    // array) — that is a full-table drop, exactly as metadata-only as
    // TRUNCATE, so admit it rather than bounce to the rewrite path
    filters.forall(f => f.isInstanceOf[AlwaysTrue] ||
      (f.references.nonEmpty &&
        f.references.forall(partCols.contains) &&
        JsonlPartitionPruning.decidable(f)))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val p = new Path(path)
    val fs = pmFs
    val effective = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (effective.isEmpty) {
      // DELETE FROM t with no (effective) predicate: same full wipe
      // as TRUNCATE TABLE
      dropAllData()
      return
    }
    // discovery AND the drop run under the lock, so a racing MOR commit
    // can't re-sidecar a shard mid-drop
    underTableLock(fs, "delete-where") {
      val layout = JsonlLayout.discover(fs, p, segAliases)
      // every shard must pin every referenced column, or the delete
      // cannot be whole-partition (a root-level appended shard may hold
      // ANY key value in its rows) — refuse loudly rather than delete
      // a subset of the matching rows
      val refs = effective.flatMap(_.references).distinct
      val uncovered = layout.filterNot { case (_, pv) => refs.forall(pv.contains) }
      if (uncovered.nonEmpty)
        throw new UnsupportedOperationException(
          s"graft-jsonl DELETE: ${uncovered.size} shard(s) outside the " +
            s"partition layout for ${refs.mkString(",")} (e.g. ${uncovered.head._1})")
      val gone = JsonlShards.retire(fs, p, layout.collect { case (shard, pv)
        if effective.forall(f => pv.forall { case (k, v) =>
          JsonlPartitionPruning.admits(f, k, v, tableSchema) }) => shard })
      JsonlShards.pruneEmptyDirs(fs, p, JsonlShards.dirsOf(p, gone))
    }
  }
}

final class JsonlScanBuilder(dataSchema: StructType, path: String,
                             maxFileAgeMs: Long = JsonlMicroBatchStream.DefaultMaxFileAgeMs,
                             spj: Boolean = false,
                             snapshot: JsonlSnapshots.Manifest = null,
                             runtimeSkipCols: Seq[String] = Nil,
                             format: String = "jsonl",
                             statsJson: String = null)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var required: StructType = dataSchema
  private var pushed: Array[Filter] = Array.empty
  private var pruneOnly: Array[Filter] = Array.empty
  private var aggSpecs: Seq[(String, String)] = Nil
  private var limit: Int = -1

  /** LIMIT pushdown: each shard's reader stops after `limit` rows
    * (post-filter), so `LIMIT 20` over a 100 TB corpus parses at most
    * `20 * shards-in-first-tasks` lines instead of materializing
    * every row for Spark to discard. Partial by nature (shards are
    * independent) — Spark re-applies the global limit. */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true

  /** Partial COUNT(*) / MIN / MAX pushdown (see
    * [[JsonlAggReaderFactory]]): accepted for ungrouped aggregations
    * built purely from `CountStar`, `Min(col)`, and `Max(col)` over
    * indexable-typed columns. Complete pushdown stays false: each
    * shard reports ONE partial row, Spark merges. The payoff tiers:
    * COUNT(*) ships |shards| longs instead of rows; MIN/MAX drain the
    * row reader per shard — unless the shard's skip-index entry
    * ([[JsonlSkipIndex]]) already answers, in which case the partial
    * is emitted WITHOUT OPENING THE FILE: `SELECT MIN(k), MAX(k),
    * COUNT(*)` over a fully-indexed, sidecar-free, filterless table
    * is a metadata-only read. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (agg.groupByExpressions().nonEmpty) return false
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0)).filter(colOk)
      case _ => None
    }
    val funcs = agg.aggregateExpressions()
    if (funcs.isEmpty) return false
    val specs = funcs.flatMap {
      case _: CountStar => Some(("count", ""))
      case m: Min => colOf(m.column).map(("min", _))
      case m: Max => colOf(m.column).map(("max", _))
      case _ => None
    }
    if (specs.length != funcs.length) return false
    aggSpecs = specs.toSeq
    true
  }

  private def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | StringType | BooleanType => true
    case _ => false
  }
  private def colOk(name: String): Boolean =
    dataSchema.fields.exists(f => f.name == name && supportedType(f.dataType))

  /** The single-column filter shapes the scan understands (pushdown
    * and skip-index admission share them). */
  private def shapeCol(f: Filter): Option[String] = f match {
    case EqualTo(a, _) => Some(a)
    case In(a, _) => Some(a)
    case IsNull(a) => Some(a)
    case IsNotNull(a) => Some(a)
    case GreaterThan(a, _) => Some(a)
    case GreaterThanOrEqual(a, _) => Some(a)
    case LessThan(a, _) => Some(a)
    case LessThanOrEqual(a, _) => Some(a)
    case _ => None
  }

  private def supported(f: Filter): Boolean = shapeCol(f).exists(colOk)

  /** PRUNE-ONLY filters: shapes on temporal columns, and on DOTTED
    * STRUCT LEAVES (`meta.source = 'x'` — Spark pushes nested
    * predicates to DSv2 with the dotted name). Never claimed as
    * pushed (the reader's three-valued evaluation covers top-level
    * scalars only, and a half-evaluated claim loses rows) — returned
    * as residual for Spark to re-check — but still handed to the
    * skip-index admission, where the per-shard [min, max] (micros /
    * days / scalars) prunes shards the predicate can't match at
    * file-open grain. */
  private def pruneOnlySupported(f: Filter): Boolean =
    shapeCol(f).exists { name =>
      dataSchema.fields.find(_.name == name) match {
        case Some(fl) => fl.dataType match {
          case TimestampType | TimestampNTZType | DateType => true
          case _ => false
        }
        case None =>
          // dotted struct leaf of any indexable type: admission-only
          name.contains(".") && JsonlSkipIndex.leafField(dataSchema, name)
            .exists(lf => JsonlSkipIndex.indexable(lf.dataType))
      }
    }

  /** Row-filter pushdown — FORMAT-AWARE since round 16. JSONL-format
    * tables claim the supported shapes (the line reader evaluates them
    * exactly on the parsed tree, pre-materialization — the cheapest
    * place for a row-wise format). PARQUET-format tables DECLINE every
    * row filter: a claimed filter forces the scan onto the
    * row-materializing reader (ColumnarBatches can't honor a claim of
    * full evaluation), forfeiting the measured ~2-4× vectorized-decode
    * win on exactly the `WHERE + aggregate` shape that dominates —
    * Spark's own parquet source makes the same choice (FilterExec above
    * vectorized batches). The declined shapes still do every
    * pruning-grain job via the prune-only channel: partition-dir
    * admission, skip-index shard admission (min/max/bloom at file-open
    * grain), and parquet row-group skipping inside surviving shards
    * ([[ParquetRowGroupFilter]]). A converted-mid-life table's leftover
    * jsonl shards emit unfiltered rows for FilterExec — correct, and
    * transitional until `CALL compact` finishes the conversion. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (format == "parquet") {
      pushed = Array.empty
      pruneOnly = filters.filter(f => supported(f) || pruneOnlySupported(f))
      filters
    } else {
      val (sup, unsup) = filters.partition(supported)
      pushed = sup
      pruneOnly = unsup.filter(pruneOnlySupported)
      unsup
    }
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new JsonlScan(dataSchema, required, pushed, path, maxFileAgeMs,
      aggSpecs, limit, spj, snapshot = snapshot, pruneOnly = pruneOnly,
      runtimeSkipCols = runtimeSkipCols, statsJson = statsJson)
}

/** Serializable carrier for the SESSION's Hadoop configuration —
  * `new Configuration()` only sees classpath XML and silently drops
  * every `spark.hadoop.*` setting (object-store credentials, custom
  * default FS, …). Built on the driver from
  * `sessionState.newHadoopConf()`, shipped to executors as the
  * effective key/value set. */
final class JsonlHadoopConf(props: Array[(String, String)]) extends Serializable {
  @transient private lazy val conf: Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }
  def value: Configuration = conf
}

object JsonlHadoopConf {
  /** Snapshot the active session's Hadoop conf (falls back to a plain
    * Configuration outside any session — tests constructing readers
    * directly). */
  def fromSession(overrides: Map[String, String] = Map.empty)
      : JsonlHadoopConf = {
    import scala.jdk.CollectionConverters._
    val c = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())
    // overrides land LAST (table properties outrank session conf) —
    // the parquet write tuning rides the serialized conf so executor
    // sinks see it with zero extra plumbing
    new JsonlHadoopConf(c.iterator().asScala
      .map(e => e.getKey -> e.getValue).toArray ++ overrides.toArray)
  }
}

/** Path-layout helpers shared by the batch scan, the stream, and the
  * commit protocol. */
object JsonlLayout {
  /** Spark's directory name for a null partition value. */
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  def isShard(n: String): Boolean =
    !n.startsWith("_") && !n.startsWith(".") &&
      (n.endsWith(".json") || n.endsWith(".jsonl") ||
        n.endsWith(".json.gz") || n.endsWith(".jsonl.gz") ||
        n.endsWith(GraftParquetShard.Suffix))

  /** Spark-compatible dir-name escape: everything outside the safe
    * set becomes %XX over UTF-8 bytes — the exact inverse of
    * [[unescapePathName]]. */
  def escapePathName(v: String): String = {
    val sb = new java.lang.StringBuilder
    v.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if (c.isLetterOrDigit && c < 128 || c == '_' || c == '-' || c == '.')
        sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Inverse of [[escapePathName]]: decodes `%xx` sequences ONLY —
    * unlike URLDecoder, '+' is a literal plus and a stray '%' stays
    * literal instead of throwing. BYTE-oriented: `%xx` escapes are
    * UTF-8 BYTES (our escaper encodes multi-byte characters as one
    * escape per byte), so decoding assembles bytes and UTF-8-decodes
    * at the end — a char-per-escape decode turns every non-ASCII
    * value into mojibake (caught by the round-8 property spec).
    * Literal chars pass through as their own UTF-8 bytes, so dir
    * names following Spark's convention (non-ASCII left unescaped)
    * decode correctly too. */
  def unescapePathName(s: String): String = {
    val bytes = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
        Character.digit(s.charAt(i + 1), 16) >= 0 &&
        Character.digit(s.charAt(i + 2), 16) >= 0) {
        bytes.write((Character.digit(s.charAt(i + 1), 16) << 4) +
          Character.digit(s.charAt(i + 2), 16))
        i += 3
      } else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))) {
        // supplementary characters: encode the surrogate PAIR together
        // (a lone high surrogate would encode as the replacement char)
        bytes.write(s.substring(i, i + 2).getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        i += 2
      } else {
        bytes.write(c.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        i += 1
      }
    }
    new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The ONE rendering of a partition value as its dir-name string,
    * shared by the shard writer and every partition-management entry
    * point, so a type a write can route is by construction one ADD /
    * DROP / SHOW PARTITIONS can name. */
  def partValueString(row: InternalRow, i: Int, dt: DataType): String =
    dt match {
      case LongType => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case DoubleType => row.getDouble(i).toString
      case BooleanType => row.getBoolean(i).toString
      case StringType => row.getUTF8String(i).toString
      case other => throw new UnsupportedOperationException(
        s"graft-jsonl: unsupported partition type $other")
    }

  /** `c1=v1/c2=v2` for a partition tuple (None → the null sentinel). */
  def relDirOf(cols: Seq[String], values: Seq[Option[String]]): String =
    cols.zip(values).map { case (c, v) =>
      s"$c=${v.map(escapePathName).getOrElse(NullPartition)}"
    }.mkString("/")

  /** Shards of a table directory with their partition values: a flat
    * dir or single file yields empty values; `k=v` subdirs — nested
    * to ANY depth, the multi-level hive layout `lang=en/date=2024-01-01/`
    * — accumulate `k -> Some(value)` per level (`k -> None` for the
    * null-partition sentinel). Shards at any intermediate level are
    * ALWAYS emitted with the values accumulated so far — the DSv2
    * append path publishes into the table root, and a mixed layout
    * must surface both populations (appended shards carry their
    * values in the JSON lines themselves). Uses the FileStatus from
    * listing — no per-entry re-stat. */
  def discover(fs: org.apache.hadoop.fs.FileSystem, root: Path,
               aliases: Map[String, String] = Map.empty)
      : Seq[(Path, Map[String, Option[String]])] =
    discoverFull(fs, root, aliases).map { case (p, _, _, pv) => (p, pv) }

  /** [[discover]] plus each shard's modification time — the streaming
    * source's watermark input. One value per listing entry; no
    * per-file re-stat. */
  def discoverStatus(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                     aliases: Map[String, String] = Map.empty)
      : Seq[(Path, Long, Map[String, Option[String]])] =
    discoverFull(fs, root, aliases).map { case (p, m, _, pv) => (p, m, pv) }

  /** Full listing: (path, mtime, length, partition values) per shard —
    * length feeds [[JsonlScan]]'s `estimateStatistics`. All values
    * come from the single `listStatus` pass. `aliases` canonicalizes
    * directory-segment keys written before a partition-column RENAME
    * ([[JsonlTable.segmentAliasesOf]]): an `old=v` dir reads as the
    * current column, so pruning, value injection, SPJ grouping, and
    * partition-predicate deletes all see one key namespace. */
  def discoverFull(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                   aliases: Map[String, String] = Map.empty)
      : Seq[(Path, Long, Long, Map[String, Option[String]])] = {
    if (!fs.exists(root)) return Seq.empty
    val rootStatus = fs.getFileStatus(root)
    if (rootStatus.isFile)
      return Seq((root, rootStatus.getModificationTime, rootStatus.getLen,
        Map.empty))
    def walk(dir: Path, pv: Map[String, Option[String]])
        : Seq[(Path, Long, Long, Map[String, Option[String]])] = {
      val entries = fs.listStatus(dir)
      val files = entries.filter(st => st.isFile && isShard(st.getPath.getName))
        .sortBy(_.getPath.getName)
        .map(st => (st.getPath, st.getModificationTime, st.getLen, pv)).toSeq
      val nested = entries
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .sortBy(_.getPath.getName).toSeq
        .flatMap { d =>
          val Array(k0, v) = d.getPath.getName.split("=", 2)
          val k = if (aliases.isEmpty) k0 else aliases.getOrElse(k0, k0)
          val value =
            if (v == NullPartition) None else Some(unescapePathName(v))
          walk(d.getPath, pv + (k -> value))
        }
      files ++ nested
    }
    walk(root, Map.empty)
  }

  /** Partition values of a shard derived from its ANCESTOR directory
    * names alone — the streaming restart path, where the discovery
    * map is gone but the path still encodes the layout. Walks up
    * while directories look like `k=v`. */
  def partValuesFromPath(file: Path,
                         aliases: Map[String, String] = Map.empty)
      : Map[String, Option[String]] = {
    var pv = Map.empty[String, Option[String]]
    var dir = file.getParent
    while (dir != null && dir.getName.contains("=")) {
      val Array(k0, v) = dir.getName.split("=", 2)
      val k = if (aliases.isEmpty) k0 else aliases.getOrElse(k0, k0)
      pv += k -> (if (v == NullPartition) None else Some(unescapePathName(v)))
      dir = dir.getParent
    }
    pv
  }

  /** Partition values from a TABLE-RELATIVE shard path (the manifest /
    * change-feed grain) — same segment parse and alias fold as
    * [[partValuesFromPath]], over a rel string. */
  def partValuesFromRel(rel: String,
                        aliases: Map[String, String] = Map.empty)
      : Map[String, Option[String]] =
    rel.split("/").init.collect {
      case seg if seg.contains("=") =>
        val Array(k0, v) = seg.split("=", 2)
        val k = if (aliases.isEmpty) k0 else aliases.getOrElse(k0, k0)
        k -> (if (v == NullPartition) None
              else Some(unescapePathName(v)))
    }.toMap

  /** Every directory a logical partition dir `relDir` (current display
    * names) may live under across partition-column renames: the
    * cartesian expansion of each segment's name over `reverse`
    * (current name → former names). Head is `relDir` itself; the tail
    * is the pre-rename variants a dir-replacing write must also
    * sweep. */
  def aliasVariantDirs(relDir: String,
                       reverse: Map[String, Seq[String]]): Seq[String] = {
    if (reverse.isEmpty || relDir.isEmpty) return Seq(relDir)
    val segs = relDir.split("/").toSeq.map { seg =>
      val Array(k, v) = seg.split("=", 2)
      (k +: reverse.getOrElse(k, Nil)).map(n => s"$n=$v")
    }
    segs.foldLeft(Seq("")) { (acc, alts) =>
      acc.flatMap(pre => alts.map(a => if (pre.isEmpty) a else s"$pre/$a"))
    }
  }

  /** Content fingerprint for ANALYZE-stats freshness
    * ([[JsonlTable.StatsProp]]): shard names (UUID-unique) + position-
    * delete sidecar names + pending equality key-file names, hashed.
    * Any change that can move row counts or column distributions —
    * an append, a compaction swap, a MOR delete, an upsert wave —
    * changes the set, so stale stats are DETECTED rather than served.
    * Metadata-scale: one recursive listing + two `_`-dir probes. */
  def statsFingerprint(fs: org.apache.hadoop.fs.FileSystem,
                       root: Path): String = {
    val shards = discoverFull(fs, root).map(_._1.getName)
    // sidecar CONTENT identity, not just names: JsonlDeletes.append
    // union-merges new deleted ordinals into the SAME sidecar file, so
    // a second MOR delete on an already-sidecar'd shard changes the
    // bytes but not the name — length+mtime catch the rewrite
    val sidecars = JsonlDeletes.index(fs, root).values.toSeq.map { p =>
      val st = fs.getFileStatus(new Path(p))
      s"${st.getPath.getName}@${st.getLen}:${st.getModificationTime}"
    }
    val eq = JsonlEqDeletes.pendingNames(fs, root)
    JsonlSkipIndex.layoutFingerprint(shards ++ sidecars ++ eq)
  }
}

final class JsonlScan(dataSchema: StructType, required: StructType,
                      pushed: Array[Filter], path: String,
                      maxFileAgeMs: Long = JsonlMicroBatchStream.DefaultMaxFileAgeMs,
                      aggSpecs: Seq[(String, String)] = Nil,
                      limit: Int = -1,
                      spj: Boolean = false,
                      recordShardsTo: JsonlRowLevelOperation = null,
                      snapshot: JsonlSnapshots.Manifest = null,
                      pruneOnly: Array[Filter] = Array.empty,
                      runtimeSkipCols: Seq[String] = Nil,
                      statsJson: String = null)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  private def aggMode: Boolean = aggSpecs.nonEmpty

  // equality-delete state ([[JsonlEqDeletes]]): planned once per scan —
  // empty with ONE existence probe when the tier is unused, driver-map
  // under the broadcast byte cap, executor-direct file loading over it
  // (the driver never materializes a key), loud refusal past the
  // refuse threshold. A PINNED scan plans exactly the key files its
  // manifest embedded (resolved live-first, then retained/), so
  // VERSION AS OF an upsert table serves the upserted state as of the
  // pin.
  private lazy val eqState: JsonlEqDeletes.ReadPlan =
    if (snapshot != null) {
      if (snapshot.eqFiles.isEmpty) JsonlEqDeletes.EmptyReadPlan
      else {
        val p = new Path(path)
        val conf = JsonlHadoopConf.fromSession().value
        val fs = p.getFileSystem(conf)
        JsonlEqDeletes.planFiles(fs,
          snapshot.eqFiles.map { n =>
            val f = JsonlSnapshots.resolveEq(fs, p, n)
            (f, fs.getFileStatus(f).getLen)
          }, conf)
      }
    } else {
      val p = new Path(path)
      val conf = JsonlHadoopConf.fromSession().value
      JsonlEqDeletes.planTable(p.getFileSystem(conf), p, conf)
    }

  // skip-index stats are keyed by the PHYSICAL key (name unless the
  // column was re-added after a drop)
  private def minMaxCols: Seq[String] =
    aggSpecs.collect { case (op, c) if op != "count" =>
      JsonlTable.physicalKeyOf(dataSchema, c) }.distinct

  // ------------------------------------------- storage-partitioned join
  //
  // With `.option("spj", true)` the scan REPORTS its hive layout as a
  // KeyGroupedPartitioning over the partition columns, and every input
  // partition carries its partition-value key (HasPartitionKey). Under
  // `spark.sql.sources.v2.bucketing.enabled` Spark then groups shards
  // by key and plans joins/aggregations keyed on the partition columns
  // WITHOUT an exchange on this side — the v2 form of bucketed
  // co-located joins. At 100 TB this is the difference between
  // shuffling two corpus-scale tables and a zero-movement merge of
  // co-partitioned layouts (mismatched partition-value sets are handled
  // by Spark's pushPartValues padding). Opt-in per read because
  // key-grouping coalesces each partition value into ONE task — exactly
  // what a co-partitioned join wants, but a parallelism loss for plain
  // scans, which keep per-shard tasks by default.

  /** Partition-key columns usable for SPJ: present on EVERY shard of
    * the (statically pruned) layout, declared in the schema with a
    * type whose catalyst key form we can build. Name-sorted so the
    * reported key order and each partition's key row always agree. */
  private lazy val spjKeys: Seq[(String, DataType)] = {
    val shards = prunedShards()
    val keySets = shards.map(_._3.keySet).distinct
    if (shards.isEmpty || keySets.size != 1 || keySets.head.isEmpty) Seq.empty
    else {
      val names = keySets.head.toSeq.sorted
      val fields = names.map(n => dataSchema.fields.find(_.name == n))
      val ok = fields.forall(_.exists(_.dataType match {
        case StringType | LongType | IntegerType | DoubleType | BooleanType => true
        case _ => false
      }))
      if (ok) names.map(n => (n, dataSchema(n).dataType)) else Seq.empty
    }
  }

  private def spjActive: Boolean = spj && !aggMode && spjKeys.nonEmpty

  // the key values the shard readers inject for the same dirs
  private def keyRowOf(pv: Map[String, Option[String]])
      : org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      spjKeys.map { case (n, dt) =>
        ShardRowReader.partConst(pv(n), dt, java.time.ZoneOffset.UTC) }.toArray)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjActive)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        spjKeys.map { case (n, _) =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(n)
            : org.apache.spark.sql.connector.expressions.Expression
        }.toArray,
        prunedShards().map(_._3).distinct.size)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        prunedShards().size)

  /** Per-partition ordering report ([[SupportsReportOrdering]]): under
    * key grouping every output partition holds exactly ONE partition
    * value, so its rows are trivially sorted by the grouping keys —
    * whatever the file contents. Reporting it lets EnsureRequirements
    * drop BOTH local sorts of a storage-partitioned sort-merge join:
    * the co-located join becomes a pure zero-shuffle, zero-sort merge
    * (the clustered-layout endgame at 100 TB — neither corpus-scale
    * side is ever sorted OR moved). Only keys the read schema retains
    * are reported (Spark resolves the sort refs against the relation
    * output; a pruned column would fail resolution). */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    reportedOrdering

  // computed once per scan (the rule may consult it repeatedly), with
  // an early exit the moment the common verified prefix dies — on an
  // unverified layout the derivation touches ONE entry
  private lazy val reportedOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (aggMode) Array.empty
    else {
      val out = readSchema().fieldNames.toSet
      val partKeys: Seq[String] =
        if (spjActive) spjKeys.map(_._1) else Nil
      // VERIFIED write-order extension: writers measured each file's
      // lexicographic sortedness ([[JsonlSkipIndex.ShardStatsTracker]])
      // and recorded the held prefix in its skip entry — the entries
      // are the ground truth, so the report derives the longest COMMON
      // verified prefix across the planned shards (write.order tables,
      // cluster_table-maintained layouts, and bare path reads all
      // qualify without declaring anything on the read). Conditions:
      // every planned shard verified, and under key grouping every
      // group holds exactly ONE shard (Spark concatenates a group's
      // files, which would break a row-level order but not the
      // constant group key). On the post-cluster one-shard-per-value
      // shape, a sort-merge join or a window over (group key, order
      // col) then plans with ZERO sorts.
      val orderKeys: Seq[String] =
        if (snapshot != null || skipIndex.isEmpty) Nil
        else {
          val shards = prunedShards()
          val singlePerGroup = !spjActive ||
            shards.groupBy(_._3).valuesIterator.forall(_.size == 1)
          if (shards.isEmpty || !singlePerGroup) Nil
          else {
            var common: Seq[String] = null
            val it = shards.iterator
            while (it.hasNext && (common == null || common.nonEmpty)) {
              val (f, _, _) = it.next()
              val p = skipIndex.get(f).map(_.sorted).getOrElse(Nil)
              common =
                if (common == null) p
                else common.zip(p).takeWhile(q => q._1 == q._2).map(_._1)
            }
            // storage keys → top-level display names (skip anything
            // that no longer resolves, e.g. after a column drop)
            common.iterator.map(k =>
              dataSchema.fields.find(fl =>
                JsonlTable.physicalKeyOf(fl) == k).map(_.name))
              .takeWhile(_.isDefined).map(_.get)
              .filterNot(partKeys.contains).toSeq
          }
        }
      (partKeys ++ orderKeys).takeWhile(out.contains).map { n =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(n),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
      }.toArray
    }

  // ------------------------------------------------- runtime filtering
  //
  // Dynamic partition pruning for the hive layout: when this scan is
  // the probe side of a broadcast join keyed on a partition column,
  // Spark builds the dim side first, turns its key set into an IN
  // filter, and hands it here AT EXECUTION TIME — partition dirs that
  // no dim row references are then never listed into partitions. The
  // static planner cannot know these values (they come from another
  // table's data), so this is the pruning tier static pushdown cannot
  // reach: at 100 TB, "join the corpus to this week's snapshot dims"
  // opens the joined slice's shards only.
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  // segment canonicalization from the SCHEMA THIS SCAN READS WITH: a
  // pinned scan uses the pin-time schema (whose partition column may
  // still bear the old name — its dirs then parse directly), a live
  // scan folds pre-rename dirs into the current column
  private lazy val scanSegAliases: Map[String, String] =
    JsonlTable.segmentAliasesOf(dataSchema)

  /** The layout's partition keys, from one listing of the table —
    * cached per scan (a scan is per-query; staleness across queries is
    * the same contract as any listing). */
  private lazy val layout: Seq[(String, Long, Map[String, Option[String]])] =
    if (snapshot != null) pinned.map { case (f, len, pv, _) => (f, len, pv) }
    else {
      val p = new Path(path)
      val conf = JsonlHadoopConf.fromSession()
      val fs = p.getFileSystem(conf.value)
      JsonlLayout.discoverFull(fs, p, scanSegAliases)
        .map { case (f, _, len, pv) => (f.toString, len, pv) }
    }

  /** Snapshot mode: the manifest IS the layout — live discovery,
    * live sidecars, and the live skip index are all ignored; deletes
    * ride in as the ordinals pinned at snapshot time. */
  private lazy val pinned
      : Seq[(String, Long, Map[String, Option[String]], Array[Long])] = {
    val p = new Path(path)
    JsonlSnapshots.pinnedLayout(
      p.getFileSystem(JsonlHadoopConf.fromSession().value), p, snapshot,
      scanSegAliases)
  }
  private lazy val pinnedDeletes: Map[String, Array[Long]] =
    pinned.collect { case (f, _, _, d) if d.nonEmpty => f -> d }.toMap

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val base = layout.flatMap(_._3.keys).distinct
    // declared skip/cluster columns (graft.skip.columns +
    // graft.write.order) are runtime-filterable too: the dim side of a
    // broadcast join keyed on a CLUSTERED column hands its key set
    // here at execution time, and [[prunedShards]] admits each shard
    // through the skip index (min/max ranges, blooms) — file-grain
    // dynamic pruning on non-partition columns, the "join the corpus
    // to this week's dims on doc_id" path at 100 TB. Top-level columns
    // only (a dotted leaf is not addressable as a join key); pruning
    // is advisory, so an unindexed shard simply stays admitted.
    val skips = runtimeSkipCols.filter(c =>
      !c.contains('.') && !base.contains(c) &&
        dataSchema.fieldNames.contains(c))
    // row-level rewrites additionally group-filter on `_shard`: the
    // matching rows' shard set arrives as a runtime IN filter and
    // prunes the rewrite to exactly the files holding matches — the
    // difference between shard-scoped and whole-table copy-on-write
    // on unpartitioned (or coarsely partitioned) tables
    val all0 = base ++ skips
    val all = if (recordShardsTo != null) all0 :+ "_shard" else all0
    all.map(
      org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters
  override def readSchema(): StructType =
    if (aggMode)
      StructType(aggSpecs.map {
        case ("count", _) => org.apache.spark.sql.types.StructField(
          "count(*)", LongType, nullable = false)
        case (op, c) => org.apache.spark.sql.types.StructField(
          s"$op($c)", dataSchema(c).dataType)
      })
    else required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-jsonl $path, PushedFilters: [${pushed.mkString(", ")}], " +
      (if (pruneOnly.nonEmpty)
        s"PruneFilters: [${pruneOnly.mkString(", ")}], " else "") +
      (if (aggMode) s"PushedAggregation: [${aggSpecs.map {
        case ("count", _) => "COUNT(*)"
        case (op, c) => s"${op.toUpperCase}($c)" }.mkString(", ")}], "
       else "") +
      (if (limit >= 0) s"PushedLimit: $limit, " else "") +
      s"ReadSchema: ${readSchema().simpleString}"

  /** Planning-time size estimate from the SAME pruned listing the scan
    * reads (partition-pruned shard byte sizes summed) — feeds AQE and
    * join-strategy decisions: a `lang=en` slice of a corpus reports
    * its own bytes, not the table's, so a small slice broadcast-joins
    * instead of shuffling at 100 TB. Row count comes from the skip
    * index when it is EXACT for this scan — every pruned shard
    * indexed, none carrying a delete sidecar, no row filters pushed —
    * which is what a footerless format can offer CBO without a
    * bytes/row guess; anything less leaves it unset (a wrong row
    * count misleads join reordering worse than no row count). */
  // ANALYZE stats ([[JsonlTableStats]], `CALL analyze_table`) — parsed
  // once per scan, served ONLY while the live layout's content
  // fingerprint still matches the one the stats were computed over
  // (stale-stats conservatism: an append/delete/wave makes them
  // invisible, never misleading). The freshness probe costs one
  // recursive listing, paid only on tables that HAVE stats.
  private lazy val freshAnalyzeStats: Option[JsonlTableStats.TableStats] =
    if (statsJson == null || snapshot != null) None
    else JsonlTableStats.fromJson(statsJson).filter { s =>
      val p = new Path(path)
      s.fingerprint == JsonlLayout.statsFingerprint(
        p.getFileSystem(JsonlHadoopConf.fromSession().value), p)
    }

  /** Columns EXACTLY verified duplicate-free by `CALL analyze_table`
    * whose verification is still fingerprint-fresh — the soundness
    * premise of [[graft.plans.EagerAggregation]]: fresh fingerprint ⟹
    * data unchanged since the exact probe ⟹ uniqueness still holds.
    * Empty on snapshots, stats-less tables, or any staleness. */
  def freshUniqueColumns: Set[String] =
    freshAnalyzeStats.map(_.cols.collect {
      case (n, c) if c.unique => n }.toSet).getOrElse(Set.empty)

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val shards = prunedShards()
    val bytes = shards.map(_._2).sum
    val rowsIdx: java.util.OptionalLong =
      if (pushed.isEmpty && runtimeFilters.isEmpty && skipIndex.nonEmpty) {
        val sidecars = {
          val p = new Path(path)
          JsonlDeletes.index(
            p.getFileSystem(JsonlHadoopConf.fromSession().value), p)
        }
        val entries = shards.map { case (f, _, _) => (f, skipIndex.get(f)) }
        // pending equality deletes hide rows the entries still count —
        // exact only when no pending key can reach any planned shard
        // (the same skip-range exemption the reader uses)
        if (entries.forall { case (f, e) =>
              e.isDefined && !sidecars.contains(f) &&
                (eqState.isEmpty || eqExemptOf(f)) })
          java.util.OptionalLong.of(entries.map(_._2.get.nRows).sum)
        else java.util.OptionalLong.empty()
      } else java.util.OptionalLong.empty()
    // unfiltered scans on un-indexed tables: the ANALYZE row count is
    // exact while fresh. Prune-only shapes (declined parquet filters,
    // join-inferred IsNotNull) are fine as long as they provably
    // pruned NOTHING — every listed shard planned means the scan emits
    // exactly the analyzed rows (row-level filtering happens above).
    val rows: java.util.OptionalLong =
      if (rowsIdx.isPresent) rowsIdx
      else if (pushed.isEmpty && runtimeFilters.isEmpty &&
          (pruneOnly.isEmpty || shards.size == layout.size))
        freshAnalyzeStats.map(s => java.util.OptionalLong.of(s.rows))
          .getOrElse(java.util.OptionalLong.empty())
      else java.util.OptionalLong.empty()
    // column NDV/null/min/max for CBO join reordering and broadcast
    // decisions. Served for scans with no claimed/runtime filters —
    // prune-only shapes (declined parquet filters) may narrow the
    // shard set, for which table-grain stats remain sound upper
    // bounds, the direction CBO estimation degrades safely in.
    val colStats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (pushed.nonEmpty || runtimeFilters.nonEmpty) java.util.Map.of()
      else freshAnalyzeStats match {
        case Some(s) =>
          val m = new java.util.HashMap[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
          s.cols.foreach { case (name, c) =>
            dataSchema.fields.find(_.name == name).foreach { fl =>
              m.put(org.apache.spark.sql.connector.expressions.Expressions
                .column(name),
                new JsonlTableStats.GraftColumnStatistics(c, fl.dataType))
            }
          }
          m
        case None => java.util.Map.of()
      }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** The partition-pruned (shard, bytes, partition-values) listing —
    * one definition serving planning, statistics, and runtime
    * filtering (statically pushed filters AND any execution-time
    * runtime filters both prune). */
  /** Shard-identity pruning for the row-level rewrite path: a runtime
    * filter whose ONLY reference is `_shard` admits a shard iff its
    * path is in the filter's value set. Unknown shapes admit (no
    * pruning — always safe). */
  private def shardAdmitted(file: String, fl: Filter): Boolean = fl match {
    case org.apache.spark.sql.sources.In("_shard", vs) =>
      vs.exists(v => v != null && v.toString == file)
    case org.apache.spark.sql.sources.EqualTo("_shard", v) =>
      v != null && v.toString == file
    case _ => true
  }

  /** The table's file-skipping index ([[JsonlSkipIndex]]), opened once
    * per scan — one existence probe + one small manifest-LIST read
    * when the table has one; per-partition manifests parse lazily,
    * only for partitions that survive partition pruning. Consulted
    * AFTER partition pruning: a shard whose indexed [min, max] range
    * (or bloom filter, for point predicates) proves the pushed filters
    * can't match is never planned into a partition — the file-open
    * -level skip partition dirs can't express. Conservative on
    * staleness by construction (unseen shards always read). */
  private lazy val skipIndex: JsonlSkipIndex.Index =
    if (snapshot != null) JsonlSkipIndex.empty
    else {
      val p = new Path(path)
      JsonlSkipIndex.open(p.getFileSystem(JsonlHadoopConf.fromSession().value),
        p, dataSchema)
    }

  // memoized per runtime-filter SET: planning consults the pruned
  // listing several times per scan (partitioning, ordering, SPJ keys,
  // statistics, the partition plan itself) and each pass re-ran
  // per-shard index admission; the result only changes when filter()
  // delivers a new runtime array, so key the cache on its identity
  @volatile private var prunedCache
      : (Array[Filter], Seq[(String, Long, Map[String, Option[String]])]) =
    null

  private def prunedShards()
      : Seq[(String, Long, Map[String, Option[String]])] = {
    val rf = runtimeFilters
    val c = prunedCache
    if (c != null && (c._1 eq rf)) return c._2
    val r = layout.filter { case (f, _, pv) =>
      pv.forall { case (k, v) =>
        // pruneOnly participates in DIR pruning too: declined filters
        // (parquet-format tables) must still skip partition dirs at
        // planning time — `admits` is conservative for shapes/types it
        // can't decide, so the extra filters only ever narrow safely
        (pushed ++ pruneOnly ++ rf)
          .forall(JsonlPartitionPruning.admits(_, k, v, dataSchema))
      } && rf
        .filter(_.references.sameElements(Array("_shard")))
        .forall(shardAdmitted(f, _)) &&
      (skipIndex.isEmpty ||
        JsonlSkipIndex.admits(skipIndex, f,
          (pushed ++ pruneOnly ++ rf).toSeq, dataSchema))
    }
    prunedCache = (rf, r)
    r
  }

  /** Hive-style one-level partition layout (`lang=en/part-*.jsonl.gz`,
    * the shape [[graft.sources.JsonlCorpus.write]] produces with a
    * `partitionCol`): partition directories whose value fails a pushed
    * filter on the partition column are pruned AT PLANNING TIME —
    * their files are never listed into partitions, the file-open-level
    * skip that dwarfs row-level filtering at 100 TB. The partition
    * value is injected into rows by the reader (it is not stored in
    * the JSON lines; the `__HIVE_DEFAULT_PARTITION__` sentinel maps
    * back to null). Flat directories keep the original behavior. */
  // equality skip-range exemption: per shard, can ANY pending key
  // outranking its stamp fall in its skip-index key range? Exempt
  // shards skip the per-row check (and index-answered aggregates stay
  // available for them) — on clustered upsert tables this bounds scan
  // cost to the shards actually near the pending keys.
  private lazy val eqProbe: JsonlEqDeletes.RangeProbe =
    if (eqState.isEmpty || eqState.map.isEmpty) null
    else JsonlEqDeletes.rangeProbe(eqState.map, eqState.cols,
      eqState.cols.map(c => dataSchema(dataSchema.fieldIndex(c)).dataType))
  private lazy val eqKeyStorages: Array[String] =
    eqState.cols.map(c => JsonlTable.physicalKeyOf(dataSchema, c)).toArray
  private def eqExemptOf(f: String): Boolean =
    !eqState.isEmpty && {
      val stamp = JsonlEqDeletes.shardSeqOf(new Path(f).getName)
      // the stamp exemption needs no key values, so it survives the
      // executor-direct (over-cap) path; the range probe is
      // broadcast-path only (it needs the values on the driver).
      // Full-tuple form: the entry's range on ANY eligible key column
      // may exempt — composite keys with a low-cardinality leading
      // column still clear on the other columns' ranges.
      stamp >= eqState.maxSeq || (eqProbe != null &&
        (eqProbe.exhausted(stamp) ||
          (skipIndex.get(f) match {
            case Some(e) => eqProbe.clear(stamp, i =>
              e.stats.get(eqKeyStorages(i)).collect {
                case (mn, mx, _) if mn != null && mx != null => (mn, mx)
              })
            case None => false
          })))
    }

  /** The partition set for the CURRENT runtime-filter state — pure
    * (same inputs → same array), shared by [[planInputPartitions]] and
    * the [[allVectorizable]] computation. */
  private def buildPartitions(): Array[InputPartition] = {
    val shards = prunedShards()
    // merge-on-read: one listing of `_deletes/` (a single existence
    // probe when the table has none) maps each shard to its position-
    // delete sidecar; readers of any flavor — row, columnar, COUNT(*)
    // pushdown, and the row-level rewrite's own scan — then apply it
    val sidecars =
      if (snapshot != null) Map.empty[String, String] // ordinals are pinned
      else {
        val p = new Path(path)
        JsonlDeletes.index(p.getFileSystem(JsonlHadoopConf.fromSession().value), p)
      }
    shards
      .map { case (f, _, pv) =>
        JsonlInputPartition(f, pv,
          if (spjActive) keyRowOf(pv) else null,
          sidecars.getOrElse(f, null),
          indexAnsweredPartial(f, sidecars),
          if (snapshot != null) pinnedDeletes.getOrElse(f, null) else null,
          eqExempt = eqExemptOf(f))
          : InputPartition }
      .toArray
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = buildPartitions()
    // group-scoped copy-on-write (MERGE/UPDATE/DELETE rewrites): the
    // shards this scan settles on — AFTER runtime group filtering —
    // are exactly the groups the replacement write must swap out;
    // record them on the shared operation (planInputPartitions runs
    // on the driver, before any write task). Last plan wins: AQE may
    // re-plan, and the final call reflects the final pruning.
    if (recordShardsTo != null)
      recordShardsTo.recordScannedShards(
        parts.map(_.asInstanceOf[JsonlInputPartition].file).toSeq)
    parts
  }

  // TRUE vectorized parquet decode is a WHOLE-SCAN property (Spark
  // refuses mixed row/columnar partition sets): armed when every
  // planned partition is a parquet shard emitting rows verbatim or
  // under a position mask — no CLAIMED filters (parquet-format
  // tables decline them, so filtered scans stay armed and FilterExec
  // runs above the batches), no LIMIT, no reachable equality state,
  // no metadata columns. Position-delete sidecars / pinned ordinals /
  // keep sets don't disarm: they apply as per-batch selection masks
  // inside [[ParquetVectorizedShardReader]], so mutating corpora keep
  // the columnar decode.
  //
  // A lazy val over ITS OWN partition build (round-16, retiring the
  // r15 @volatile-ordering caveat): correctness no longer rests on
  // Spark calling planInputPartitions before the factory is consulted
  // — forcing this value computes a partition set itself (memoized
  // prunedShards makes that cheap). Runtime filters only REMOVE
  // shards, so a pre-runtime-filter evaluation can only be more
  // conservative (row path), never wrongly columnar — the one
  // direction that is always safe.
  private lazy val allVectorizable: Boolean = {
    val parts = buildPartitions()
    parts.nonEmpty && pushed.isEmpty && limit < 0 &&
      !required.fieldNames.exists(ShardRowReader.MetadataColumns) &&
      parts.forall { ip =>
        val p = ip.asInstanceOf[JsonlInputPartition]
        GraftParquetShard.isParquetName(p.file) &&
          p.changeKind == null && (p.eqExempt || eqState.isEmpty)
      }
  }

  /** In aggregate-pushdown mode, the shard's partial answer straight
    * from its skip-index entry — ONLY when that is provably the same
    * answer a row drain would produce: no pushed row filters, no
    * position-delete sidecar (deletes narrow the true range/count),
    * and the entry carries stats for every MIN/MAX column. Null
    * otherwise (the reader drains rows). Plain JVM values; the reader
    * converts (String -> UTF8String) when emitting. */
  private def indexAnsweredPartial(
      f: String, sidecars: Map[String, String]): Seq[Any] =
    if (!aggMode || pushed.nonEmpty || pruneOnly.nonEmpty ||
        runtimeFilters.nonEmpty ||
        // a sidecar narrows the true range — MIN/MAX must drain; the
        // COUNT-only shape subtracts it below instead of draining
        (sidecars.contains(f) && !aggSpecs.forall(_._1 == "count")) ||
        // pending equality deletes may hide rows of this shard: the
        // entry's count/range no longer answers exactly — unless the
        // skip-range exemption proves none of them can touch it
        (eqState.maxSeq > JsonlEqDeletes.shardSeqOf(new Path(f).getName) &&
          !eqExemptOf(f))) null
    else skipIndex.get(f) match {
      // COUNT(*) under merge-on-read (round 16): exact from the
      // entry's row count minus the sidecar's DISTINCT deleted
      // ordinals — a driver-side read of one small ordinal list per
      // sidecar-bearing shard, so a bare count over a mutating 100 TB
      // corpus stays metadata-only instead of draining deleted shards
      case Some(e) if sidecars.contains(f) =>
        val fs = new Path(path)
          .getFileSystem(JsonlHadoopConf.fromSession().value)
        val deleted = JsonlDeletes.read(fs, new Path(sidecars(f)))
          .distinct.length
        aggSpecs.map(_ => e.nRows - deleted)
      // a compaction-synthesized (approx) entry keeps an EXACT row
      // count but possibly-wide min/max: COUNT may answer from it,
      // MIN/MAX must drain rows
      case Some(e) if minMaxCols.forall(e.stats.contains) &&
          (e.exact || minMaxCols.isEmpty) =>
        aggSpecs.map {
          case ("count", _) => e.nRows
          case ("min", c) => e.stats(JsonlTable.physicalKeyOf(dataSchema, c))._1
          case ("max", c) => e.stats(JsonlTable.physicalKeyOf(dataSchema, c))._2
        }
      case _ => null
    }

  private def eqBroadcast
      : org.apache.spark.broadcast.Broadcast[Map[String, Long]] =
    if (eqState.map.isEmpty) null
    else org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast(eqState.map)

  override def createReaderFactory(): PartitionReaderFactory =
    if (aggMode)
      new JsonlAggReaderFactory(aggSpecs, pushed, dataSchema,
        JsonlHadoopConf.fromSession(), eqBroadcast, eqState.cols,
        eqState.files)
    else
      new JsonlReaderFactory(required, pushed, dataSchema,
        JsonlHadoopConf.fromSession(), limit,
        eqBroadcast, eqState.cols, eqState.files,
        vectorized = allVectorizable, pruneFilters = pruneOnly)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!aggMode,
      "aggregate pushdown is a batch-only planning path") // never taken: V2ScanRelationPushDown is batch-only
    require(snapshot == null,
      "graft-jsonl: streaming from a snapshot is not supported — a " +
        "snapshot is a fixed set, stream the live table instead")
    new JsonlMicroBatchStream(path, dataSchema, required, pushed, maxFileAgeMs)
  }
}

/** COUNT(*)/MIN/MAX pushdown readers: each partition ships ONE
  * partial row. When the planner attached an index-answered partial
  * (`JsonlInputPartition.agg` — see `indexAnsweredPartial`), the
  * reader emits it WITHOUT opening the shard: the metadata-only
  * aggregate path. Otherwise it drains the ordinary row reader — so
  * pushed filters, declared-type null semantics, sidecar deletes, and
  * partition-value injection see EXACTLY the rows a plain scan would
  * emit — folding them through a [[JsonlSkipIndex.ShardStatsTracker]]
  * (the same min/max orderings as the index build). Spark merges the
  * partials (partial pushdown contract: `supportCompletePushDown` =
  * false). At 100 TB a bare `COUNT(*) FROM corpus` moves |shards|
  * longs instead of every row, and MIN/MAX over an indexed table
  * moves |shards| rows while opening ZERO files. */
final class JsonlAggReaderFactory(specs: Seq[(String, String)],
                                  pushed: Array[Filter],
                                  dataSchema: StructType,
                                  conf: JsonlHadoopConf,
                                  eqDeletes: org.apache.spark.broadcast.Broadcast[Map[String, Long]] = null,
                                  eqCols: Seq[String] = Nil,
                                  eqFiles: Seq[String] = Nil)
    extends PartitionReaderFactory {
  /** Parquet footer-statistics partial: for an UNINDEXED parquet shard
    * (the driver's skip-index path answered nothing) with no filters,
    * no deletes, and no reachable equality state, COUNT comes from the
    * footer row count and MIN/MAX from the folded row-group statistics
    * — numeric/temporal columns only (binary stats can be truncated or
    * dropped by writers, never served as answers), aliases and missing
    * stats fall back to the row drain. `SELECT MIN(ts), MAX(ts),
    * COUNT(*)` over a 100 TB parquet table is footer-only even before
    * its first `CALL build_skip_index`. */
  private def footerPartial(p: JsonlInputPartition): Seq[Any] = {
    val countOnly = specs.forall(_._1 == "count")
    // deletes narrow the true min/max — those drain; the COUNT-only
    // shape subtracts the sidecar's distinct ordinals from the footer
    // row count instead (round 16: mutating corpora keep footer-only
    // counts)
    if (!GraftParquetShard.isParquetName(p.file) || pushed.nonEmpty ||
        ((p.deletes != null || p.deletePositions != null) && !countOnly))
      return null
    val deletedCount: Long =
      Option(ShardRowReader.deletedSet(conf, p)).fold(0L)(_.cardinality().toLong)
    val (eqMap, _) = ShardRowReader.eqState(conf, p, eqDeletes, eqCols, eqFiles)
    val stamp = JsonlEqDeletes.shardSeqOf(new Path(p.file).getName)
    if (eqMap.nonEmpty && eqMap.valuesIterator.max > stamp) return null
    val mm = specs.collect { case (op, c) if op != "count" => c }.distinct
    // resolve each min/max column: partition-injected constant, or a
    // numeric/temporal file column under its physical key (renamed
    // columns with aliases bail to the drain — their stats may live
    // under an old name)
    val fileCols = Seq.newBuilder[String]
    val resolve = mm.map { c =>
      val fl = dataSchema.fields.find(_.name == c).getOrElse(return null)
      if (p.partValues.contains(c))
        c -> Left(ShardRowReader.partConst(p.partValues(c), fl.dataType,
          ShardRowReader.sessionZone(conf)))
      else {
        if (JsonlTable.aliasesOf(fl).nonEmpty) return null
        fl.dataType match {
          case LongType | IntegerType | DoubleType | DateType |
               TimestampType | TimestampNTZType => ()
          case _ => return null
        }
        val phys = JsonlTable.physicalKeyOf(fl)
        fileCols += phys
        c -> Right((phys, fl.dataType))
      }
    }.toMap
    org.apache.spark.sql.graftbridge.ParquetShardIO.footerAgg(
      new Path(p.file), conf.value, fileCols.result()) match {
      case None => null
      case Some((rows, stats)) =>
        def typed(v: Any, dt: DataType): Any = v match {
          case null => null
          case n: Number => dt match {
            case LongType | TimestampType | TimestampNTZType =>
              java.lang.Long.valueOf(n.longValue)
            case IntegerType | DateType => java.lang.Integer.valueOf(n.intValue)
            case DoubleType => java.lang.Double.valueOf(n.doubleValue)
            case _ => return null
          }
          case other => other
        }
        specs.map {
          case ("count", _) => rows - deletedCount
          case (op, c) => resolve(c) match {
            case Left(const) => if (rows > 0) const else null
            case Right((phys, dt)) =>
              val (mn, mx) = stats(phys)
              typed(if (op == "min") mn else mx, dt)
          }
        }
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[JsonlInputPartition]
    val cols = specs.collect { case (op, c) if op != "count" => c }.distinct
    val required = StructType(cols.map(c => dataSchema(c)))
    val (eqMap, eqC) = ShardRowReader.eqState(conf, p, eqDeletes, eqCols, eqFiles)
    new JsonlAggReader(specs, required,
      if (p.agg != null) p.agg
      else footerPartial(p),
      new ShardRowReader(p, required, dataSchema, conf, pushed,
        eqDeletes = eqMap, eqCols = eqC))
  }
}

final class JsonlAggReader(specs: Seq[(String, String)],
                           required: StructType,
                           precomputed: Seq[Any],
                           rows: => PartitionReader[InternalRow])
    extends PartitionReader[InternalRow] {
  private var emitted = false
  private var opened: PartitionReader[InternalRow] = null

  private def toCatalyst(v: Any): Any = v match {
    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case other => other
  }

  private def compute(): Seq[Any] =
    if (precomputed != null) precomputed
    else {
      val tracker = new JsonlSkipIndex.ShardStatsTracker(
        required, required.fieldNames.toSeq)
      opened = rows
      while (opened.next()) tracker.update(opened.get())
      val st = tracker.snapshot()
      specs.map {
        case ("count", _) => st.nRows
        case ("min", c) => st.cols(JsonlTable.physicalKeyOf(required, c))._1
        case ("max", c) => st.cols(JsonlTable.physicalKeyOf(required, c))._2
      }
    }

  override def next(): Boolean =
    if (emitted) false
    else { emitted = true; true }
  override def get(): InternalRow =
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(
      compute().map(toCatalyst))
  override def close(): Unit = if (opened != null) opened.close()
}

/** Micro-batch streaming over a JSONL drop directory with O(1)-class
  * offsets: an mtime WATERMARK plus only the paths inside the trailing
  * `maxFileAgeMs` window (`{"watermarkMs": W, "recent": [...]}`). A
  * file is seen iff `mtime < W` or it is listed in `recent` — so the
  * offset stops remembering a shard the moment it ages `maxFileAgeMs`
  * behind the newest shard, and checkpoint state is bounded by the
  * arrival rate times the age window instead of growing with every
  * shard the stream has ever read (the same `maxFileAge` contract as
  * Spark's built-in file source: a shard must become visible within
  * `maxFileAgeMs` of the newest shard's mtime, or it is treated as
  * already seen — covers publish latency and clock skew at the 7-day
  * default, reference watermark: dags/ingestion/lark_to_gcs.py:55-70).
  * `maxFileAgeMs=0` degenerates to a strict mtime high-water mark
  * (offset = newest mtime + the files carrying it) for producers whose
  * drops are time-ordered. Legacy file-set array offsets from old
  * checkpoints still deserialize and compose with watermark offsets,
  * so an in-flight stream upgrades on its next batch. Reader-level
  * filter pushdown and column pruning apply to streaming batches
  * identically to batch scans (same [[JsonlReaderFactory]]). */
final class JsonlMicroBatchStream(path: String, dataSchema: StructType,
                                  required: StructType, pushed: Array[Filter],
                                  maxFileAgeMs: Long = JsonlMicroBatchStream.DefaultMaxFileAgeMs)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val conf = JsonlHadoopConf.fromSession()

  // file path -> partition values, refreshed at each listing; offsets
  // carry no partition values (they re-derive from the path on
  // restart, so old checkpoints remain readable)
  @transient private var partsByFile =
    Map.empty[String, Map[String, Option[String]]]

  private lazy val streamSegAliases: Map[String, String] =
    JsonlTable.segmentAliasesOf(dataSchema)

  private def listing(): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf.value)
    val discovered = JsonlLayout.discoverStatus(fs, p, streamSegAliases)
    partsByFile = discovered.map { case (f, _, pv) => f.toString -> pv }.toMap
    discovered.map { case (f, m, _) => (f.toString, m) }.sortBy(_._1)
  }

  private def partValuesOf(file: String): Map[String, Option[String]] =
    partsByFile.getOrElse(file,
      // restart path: derive from the ancestor directory names
      JsonlLayout.partValuesFromPath(new Path(file), streamSegAliases))

  private def seen(off: Offset, file: String, mtime: Long): Boolean = off match {
    case JsonlWatermarkOffset(w, recent) => mtime < w || recent.contains(file)
  }

  override def initialOffset(): Offset = JsonlWatermarkOffset(0L, Seq.empty)

  // last offset handed out OR recovered from the checkpoint: offsets
  // only move forward. Seeding from deserializeOffset is what makes
  // the no-rewind guard survive a RESTART — without it, a momentarily
  // empty/unreachable drop directory right after recovery would hand
  // Spark a zero watermark, commit it, and replay every shard as a
  // duplicate once the files reappear (files are immutable once
  // placed, so forward-only is always safe)
  @transient private var lastOff = JsonlWatermarkOffset(0L, Seq.empty)
  // the listing latestOffset derived its offset from, reused by the
  // common planInputPartitions(lastStart, lastOff) call so the
  // scheduling hot path does ONE directory LIST per micro-batch, not
  // two (restart replay for any other offset pair still re-lists)
  @transient private var lastListing: Seq[(String, Long)] = null

  override def latestOffset(): Offset = {
    val files = listing()
    if (files.isEmpty) return lastOff
    val maxM = files.map(_._2).max
    // clamped monotonic: a partial listing (eventual-consistency gap,
    // files briefly missing) must not move the watermark backward —
    // per the maxFileAge contract a shard surfacing with mtime below
    // the committed watermark is "too old" and stays ignored, exactly
    // like Spark's built-in file source
    val w = math.max(lastOff.watermarkMs, math.max(0L, maxM - maxFileAgeMs))
    val off = JsonlWatermarkOffset(w,
      files.collect { case (f, m) if m >= w => f }.sorted)
    lastOff = off
    lastListing = files
    off
  }

  override def deserializeOffset(json: String): Offset = {
    val off = JsonlWatermarkOffset.fromJson(json)
    if (off.watermarkMs >= lastOff.watermarkMs) lastOff = off
    off
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // membership is evaluated against a listing, not the offsets
    // alone: the offsets define seen-ness, the directory defines
    // existence. The just-captured listing is exact for the batch
    // latestOffset() planned (end == the offset derived from it);
    // replay after restart re-lists, so a batch is always
    // reproducible from its two offsets plus the immutable-files
    // contract
    val files =
      if (lastListing != null && end == lastOff) lastListing else listing()
    // merge-on-read sidecars as of THIS batch's planning: a shard is
    // read once (append-log semantics), with whatever deletes had
    // landed by then — later sidecar growth does not re-deliver it
    val sidecars = {
      val p = new Path(path)
      JsonlDeletes.index(p.getFileSystem(conf.value), p)
    }
    files
      .filter { case (f, m) => seen(end, f, m) && !seen(start, f, m) }
      .map { case (f, _) => JsonlInputPartition(f, partValuesOf(f),
        deletes = sidecars.getOrElse(f, null)): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // equality deletes as of THIS batch's planning: late-arriving
    // waves apply to later batches only (a streaming scan of an
    // upsert table reads each shard once — the usual CDC caveat).
    // Same byte-capped plan as the batch scan: broadcast under the
    // cap, executor-direct key file loading over it.
    val p = new Path(path)
    val plan = JsonlEqDeletes.planTable(p.getFileSystem(conf.value), p,
      conf.value)
    val bc =
      if (plan.map.isEmpty) null
      else org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(plan.map)
    new JsonlReaderFactory(required, pushed, dataSchema, conf,
      eqDeletes = bc, eqCols = plan.cols, eqFiles = plan.files)
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object JsonlMicroBatchStream {
  /** Default seen-state horizon, matching the built-in file source's
    * `maxFileAge` default (7 days). */
  val DefaultMaxFileAgeMs: Long = 7L * 24 * 60 * 60 * 1000
}

/** Watermark offset: everything with `mtime < watermarkMs` is seen,
  * plus the explicit `recent` paths at/above the watermark. */
final case class JsonlWatermarkOffset(watermarkMs: Long, recent: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    node.put("watermarkMs", watermarkMs)
    val arr = node.putArray("recent")
    recent.sorted.foreach(arr.add)
    m.writeValueAsString(node)
  }
}

object JsonlWatermarkOffset {
  def fromJson(json: String): JsonlWatermarkOffset = {
    val node = new ObjectMapper().readTree(json)
    require(node.isObject,
      s"not a watermark offset (pre-watermark file-set arrays are not read): $json")
    val arr = node.get("recent")
    JsonlWatermarkOffset(node.get("watermarkMs").asLong,
      (0 until arr.size()).map(arr.get(_).asText))
  }
}

final case class JsonlInputPartition(
    file: String,
    partValues: Map[String, Option[String]] = Map.empty,
    key: org.apache.spark.sql.catalyst.InternalRow = null,
    deletes: String = null,
    agg: Seq[Any] = null,
    deletePositions: Array[Long] = null,
    // change-feed reads ([[JsonlChangesSource]]): the `_change` value
    // injected into every row of this shard, and — for ordinal-delta
    // pieces — the ONLY line positions to emit
    changeKind: String = null,
    keepPositions: Array[Long] = null,
    // equality-delete skip-range exemption ([[JsonlEqDeletes]]): the
    // planner proved no pending key outranking this shard's stamp
    // falls in its key range — the reader skips the per-row check
    eqExempt: Boolean = false,
    // change-feed equality plumbing ([[JsonlChangesReaderFactory]]):
    // which endpoint's equality state filters this shard's visibility
    // ("from" | "to" | null = none), and whether the reader is in
    // emit-only mode (surface exactly the rows the window's new waves
    // hide — the upsert's delete records)
    eqKind: String = null)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Non-null exactly when the scan reported KeyGroupedPartitioning
    * (the only path on which Spark reads it). */
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** Planning-time partition pruning: can a partition with `col = value`
  * (None = the null partition) contain rows satisfying `f`?
  * Conservative — filters on other columns (or shapes we can't
  * decide) admit the partition. */
object JsonlPartitionPruning {
  /** Leaf shapes [[admits]] evaluates EXACTLY against a pinned
    * partition value. Composite filters (And/Or/Not/StringContains…)
    * fall through admits conservatively — fine for pruning, fatal for
    * DELETE, so delete-eligibility checks membership here. */
  def decidable(f: Filter): Boolean = f match {
    case _: EqualTo | _: EqualNullSafe | _: In | _: IsNull | _: IsNotNull |
         _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual => true
    case _ => false
  }

  /** The partition's value is the one the shard readers inject
    * ([[ShardRowReader.partConst]]: text that does not parse as the
    * column's type is SQL null) and compares as they compare it. */
  def admits(f: Filter, col: String, value: Option[String],
             schema: StructType): Boolean = {
    val dt = schema.fields.find(_.name == col).map(_.dataType)
      .getOrElse(return true)
    val typed = ShardRowReader.partConst(value, dt, java.time.ZoneOffset.UTC)
    def cmp(other: Any): Option[Int] = ShardRowReader.compare(typed, other)
    (f, typed) match {
      case (IsNull(a), v) if a == col => v == null
      case (IsNotNull(a), v) if a == col => v != null
      // null-safe equality decides BOTH populations exactly: the null
      // partition matches iff the literal is null, a value by compare
      case (EqualNullSafe(a, v), null) if a == col => v == null
      case (EqualNullSafe(a, v), _) if a == col =>
        v != null && cmp(v).forall(_ == 0)
      case (_, null) => f match {
        // a null partition value fails every comparison filter on col
        case EqualTo(a, _) if a == col => false
        case In(a, _) if a == col => false
        case GreaterThan(a, _) if a == col => false
        case GreaterThanOrEqual(a, _) if a == col => false
        case LessThan(a, _) if a == col => false
        case LessThanOrEqual(a, _) if a == col => false
        case _ => true
      }
      case (EqualTo(a, v), _) if a == col => cmp(v).forall(_ == 0)
      case (In(a, vs), _) if a == col => vs.exists(v => cmp(v).forall(_ == 0))
      case (GreaterThan(a, v), _) if a == col => cmp(v).forall(_ > 0)
      case (GreaterThanOrEqual(a, v), _) if a == col => cmp(v).forall(_ >= 0)
      case (LessThan(a, v), _) if a == col => cmp(v).forall(_ < 0)
      case (LessThanOrEqual(a, v), _) if a == col => cmp(v).forall(_ <= 0)
      case _ => true
    }
  }
}

// --------------------------------------------------------------------
// Write path: the DSv2 staged-commit protocol, honestly implemented.
// --------------------------------------------------------------------

/** Write side of [[JsonlTable]]. Commit protocol:
  *   - every TASK (incl. retries/speculative attempts) writes to a
  *     unique file under `<path>/_staging/<queryId>/` — attempts never
  *     collide, and a failed attempt's partial file is unreferenced by
  *     construction (its name is keyed by partition+task id);
  *   - task `commit()` reports the staged file; task `abort()` deletes
  *     it;
  *   - JOB `commit()` moves every reported file into the table dir
  *     (truncate mode clears previous data files first, after all
  *     staging succeeded — so a crash before commit leaves the old
  *     table fully intact) and removes the staging dir; job `abort()`
  *     removes staging wholesale.
  *
  * The publish itself is per-file rename, not one atomic swap: a
  * reader racing the commit can observe a partial file SET (never a
  * partial file — renames are atomic per file on HDFS-like stores).
  * That is the same contract as Spark's built-in file committers;
  * callers needing snapshot-atomic publish layer
  * [[graft.warehouse.VersionedTable]] on top, exactly as with parquet. */
final class JsonlWriteBuilder(schema: StructType, path: String, queryId: String,
                              partCols: Seq[String] = Nil,
                              skipCols: Seq[String] = Nil,
                              writeOrder: Seq[String] = Nil,
                              autoSnapshot: Boolean = false,
                              multiGeneration: Boolean = false,
                              upsertKeys: Seq[String] = Nil,
                              verifyOrder: Seq[String] = Nil,
                              format: String = "jsonl",
                              parquetConf: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private var doTruncate = false
  private var doDynamic = false
  private var overwriteFilters: Array[Filter] = null
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  /** Static overwrite (`INSERT OVERWRITE ... PARTITION (k='v')`, or
    * overwrite-by-expression): AlwaysTrue truncates; a decidable
    * partition predicate replaces exactly the selected directories at
    * commit. Row-level overwrite expressions are refused loudly. */
  override def overwrite(filters: Array[Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (filters.forall(_ == AlwaysTrue)) doTruncate = true
    else {
      require(filters.forall(f => f.references.nonEmpty &&
        f.references.forall(partCols.contains) &&
        JsonlPartitionPruning.decidable(f)),
        s"graft-jsonl overwrite supports partition predicates only, " +
          s"got ${filters.mkString(", ")}")
      overwriteFilters = filters
    }
    this
  }
  /** INSERT OVERWRITE on a partitioned table under dynamic
    * partition-overwrite mode: only the partition values PRESENT in
    * the incoming data are replaced — the v2 form of the engine's S8
    * partition-replace sink (reference: the load_type="replace"
    * partition swap). */
  override def overwriteDynamicPartitions()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (multiGeneration)
      throw new UnsupportedOperationException(
        "graft-jsonl dynamic partition overwrite refused on a " +
          "multi-generation layout (partition evolution): replacing the " +
          "touched current-spec dirs would leave an OLD generation's copy " +
          "of the same logical partition live beside the overwrite — " +
          "rewrite the table (INSERT OVERWRITE the whole table) and " +
          "re-CALL evolve_partitioning to unify the layout first")
    doDynamic = true; this
  }
  /** Both faces of one write; `verified` are the columns the writers
    * VERIFY the within-file order of. Dynamic overwrite of an
    * UNPARTITIONED table replaces its single implicit partition — the
    * whole table. */
  private class PlainWrite(verified: Seq[String])
      extends org.apache.spark.sql.connector.write.Write {
    override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
      new JsonlBatchWrite(schema, path, queryId,
        doTruncate || (doDynamic && partCols.isEmpty), partCols,
        doDynamic && partCols.nonEmpty, overwriteFilters,
        skipCols = skipCols, autoSnapshot = autoSnapshot,
        upsertKeys = upsertKeys, orderCols = verified, format = format,
        parquetConf = parquetConf)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new JsonlStreamingWrite(schema, path, queryId, partCols, skipCols,
        autoSnapshot, upsertKeys, verified, format, parquetConf)
  }

  override def build(): org.apache.spark.sql.connector.write.Write = {
    // write-time clustering ([[JsonlTable.WriteOrderProp]]): order
    // columns present in the write schema participate (a MERGE's
    // projected schema always carries the table columns; defensive
    // filter keeps an evolved-away name from failing the write)
    val order = writeOrder.filter(schema.fieldNames.contains)
    // the tuple writers VERIFY per file (the required order, or the
    // verify-only columns of a self-sorting rewrite)
    val verified =
      if (order.nonEmpty) order
      else verifyOrder.filter(schema.fieldNames.contains)
    if (order.isEmpty && (verifyOrder.nonEmpty || partCols.isEmpty))
      // a flat table without a write order needs no requirement; nor
      // does a self-sorting rewrite ([[JsonlTable.VerifyOrderProp]]):
      // the caller's plan already distributes AND sorts — stacking a
      // required clustered distribution here would make
      // CollapseRepartition replace the caller's range partitioning
      // with a plain hash and SCRAMBLE the within-file sort it came to
      // have measured. The writers route rows into partition dirs as
      // delivered and record what actually held.
      new PlainWrite(verified)
    else
      // hive-layout write: ask Spark to CLUSTER rows by the partition
      // columns and SORT them within each task, so each writer holds
      // exactly ONE open file at a time and closes it on key change —
      // bounded memory however many partition values a task sees (the
      // Iceberg/Delta write shape; without it a task interleaving k
      // values needs k open encoders). With `graft.write.order` the
      // distribution upgrades to RANGE over (partition cols, order
      // cols): each task covers a contiguous key slice — still one
      // open file at a time — and the landed shards are
      // range-disjoint on the order columns, so their write-time skip
      // stats prune from the first append. The writers VERIFY the
      // requested within-task sort per file and record the held
      // prefix in the skip entry.
      new PlainWrite(verified)
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
        private def sortOrders
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          (partCols ++ order).map(c =>
            Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
            .toArray
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          if (order.nonEmpty)
            org.apache.spark.sql.connector.distributions.Distributions
              .ordered(sortOrders)
          else
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              partCols.map(c => Expressions.identity(c)
                : org.apache.spark.sql.connector.expressions.Expression).toArray)
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          sortOrders
      }
  }
}

/** One SQL MERGE/UPDATE/DELETE rewrite: Spark uses a single operation
  * instance for both the target scan and the replacement write, which
  * is what lets the scanned-group set flow from plan time to commit
  * time (the Iceberg COW pattern).
  *
  *   - [[newScanBuilder]]: column pruning ONLY — row-level filter
  *     pushdown is deliberately absent, because a COW scan must return
  *     EVERY row of a participating group (the write replaces whole
  *     shards; a row the scan drops is a row the rewrite loses).
  *     Group selection happens through runtime filtering instead:
  *     `RowLevelOperationRuntimeGroupFiltering` DPPs the scan to the
  *     partitions that contain matches.
  *   - [[requiredMetadataAttributes]] anchors the rewrite on `_shard`;
  *     besides provenance this routes `ReplaceDataExec` through
  *     `DataAndMetadataWritingSparkTask`, the path that actually
  *     applies the row projection (the no-metadata path hands writers
  *     the raw MergeRows output, `__row_operation` column included).
  *   - [[newWriteBuilder]]: stages the replacement with the normal
  *     clustered hive-layout writers; COMMIT deletes exactly the
  *     recorded scanned shards, publishes the staged ones, and prunes
  *     partition dirs the operation emptied. */
final class JsonlRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    tableSchema: StructType, path: String, partCols: Seq[String],
    skipCols: Seq[String] = Nil, autoSnapshot: Boolean = false,
    format: String = "jsonl",
    parquetConf: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  @volatile private var scannedShards: Seq[String] = Nil
  private[dsv2] def recordScannedShards(shards: Seq[String]): Unit =
    scannedShards = shards

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String =
    s"graft-jsonl $cmd (group copy-on-write)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlRowLevelScanBuilder(tableSchema, path, this)

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_shard"))

  override def newWriteBuilder(
      wInfo: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write = {
        def batch: org.apache.spark.sql.connector.write.BatchWrite =
          new JsonlBatchWrite(
            JsonlTable.withFieldMeta(tableSchema, wInfo.schema()), path,
            wInfo.queryId(), truncate = false, partCols,
            replaceShards = () => scannedShards, skipCols = skipCols,
            autoSnapshot = autoSnapshot, format = format,
            parquetConf = parquetConf)
        if (partCols.isEmpty)
          new org.apache.spark.sql.connector.write.Write {
            override def toBatch = batch
          }
        else
          new org.apache.spark.sql.connector.write.Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
            import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
            override def requiredDistribution()
                : org.apache.spark.sql.connector.distributions.Distribution =
              org.apache.spark.sql.connector.distributions.Distributions.clustered(
                partCols.map(c => Expressions.identity(c)
                  : org.apache.spark.sql.connector.expressions.Expression).toArray)
            override def requiredOrdering()
                : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
              partCols.map(c =>
                Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
                .toArray
            override def toBatch = batch
          }
      }
    }
}

/** Scan builder for the row-level rewrite: prunes COLUMNS (safe — a
  * projection never drops rows) and nothing else; see
  * [[JsonlRowLevelOperation]] for why filters must not push. */
final class JsonlRowLevelScanBuilder(dataSchema: StructType, path: String,
                                     op: JsonlRowLevelOperation)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  private var required: StructType = dataSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new JsonlScan(dataSchema, required, Array.empty, path,
      recordShardsTo = op)
}

/** Streaming sink face of the connector: `writeStream.format
  * ("graft-jsonl")` (or `.toTable` on a catalog table). Each epoch
  * stages its shards under `_staging/<query>-e<epoch>/` and commits by
  * rename — the SAME staged-publish discipline as the batch write, per
  * micro-batch. Exactly-once lands on a per-epoch commit log (the
  * `FileStreamSink` `_spark_metadata` pattern): after publishing, the
  * epoch is recorded under `_graft_stream_log/<queryId>/<epochId>` via
  * atomic rename, and any later `commit` of a logged epoch is a no-op.
  * The crash window BETWEEN the destination renames and the log write
  * is covered too: published shard names embed `<queryId>-e<epochId>`
  * (task-id-independent), so a re-executed epoch first sweeps that
  * epoch's partial shards out of the destination and republishes —
  * task attempt ids may differ across the retry, names don't need to
  * match. `queryId` here is the streaming query's stable id
  * (`StreamExecution.id`, persisted in checkpoint metadata), so the
  * log survives restarts. Append-only (the streaming
  * modes that imply truncation are for aggregate sinks, not a corpus
  * drop dir); partitioned tables route rows into `k=v/` dirs exactly
  * like the batch path. The published shards' mtimes make the output
  * dir immediately consumable by [[JsonlMicroBatchStream]] — stream →
  * table → stream composes. */
final class JsonlStreamingWrite(schema: StructType, path: String,
                                queryId: String, partCols: Seq[String],
                                skipCols: Seq[String] = Nil,
                                autoSnapshot: Boolean = false,
                                upsertKeys: Seq[String] = Nil,
                                orderCols: Seq[String] = Nil,
                                format: String = "jsonl",
                                parquetConf: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write._

  private val conf = JsonlHadoopConf.fromSession(parquetConf)
  private def fs = new Path(path).getFileSystem(conf.value)
  private def epochQueryId(epochId: Long) = s"$queryId-e$epochId"
  private def logDir = new Path(path, s"_graft_stream_log/$queryId")
  private def epochLog(epochId: Long) = new Path(logDir, epochId.toString)
  /** Marker every published shard of this epoch carries before its
    * extension — derived from (queryId, epochId) only, never from task
    * attempt ids. The extension varies by format (and a table may be
    * converted mid-stream), so replay sweeps match on the marker
    * followed by ANY shard extension. */
  private def epochMarkerBase(epochId: Long) = s"-${epochQueryId(epochId)}"
  private def epochShardRe(epochId: Long): scala.util.matching.Regex =
    (".*" + java.util.regex.Pattern.quote(epochMarkerBase(epochId)) +
      "(?:-eqs\\d+)?\\.(?:jsonl(?:\\.gz)?|json(?:\\.gz)?|parquet)$").r

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : streaming.StreamingDataWriterFactory =
    new JsonlWriterFactory(schema, path, queryId, conf, partCols, skipCols,
      upsertKeys, orderCols, format)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val f = fs
    val dest = new Path(path)
    f.mkdirs(dest)
    if (f.exists(epochLog(epochId))) {
      // epoch already durably committed (e.g. driver died AFTER the log
      // rename but before the checkpoint commit-log write): re-commit
      // must be a pure no-op beyond dropping the retry's staging — and
      // retiring a leftover in-progress marker (the crash window is
      // between the log rename and the marker delete below). Leaving it
      // would present `marker + committed log` to expire_staging forever.
      f.delete(new Path(logDir, s".$epochId.inprogress"), false)
      // heal the crash window between the epoch log rename and the
      // auto-pin: an unconsumed intent marker means this committed
      // epoch's shards are in no manifest, and a delta chain would
      // never fold them in — pin a full listing NOW (the replay knows
      // the epoch is durable)
      if (autoSnapshot &&
          JsonlSnapshots.hasIntent(f, dest, epochQueryId(epochId))) {
        JsonlSnapshots.autoPin(f, conf.value, dest, schema, None)
        JsonlSnapshots.clearIntent(f, dest, epochQueryId(epochId))
      }
      cleanupEpoch(f, epochId)
      return
    }
    // A prior attempt may have crashed mid-publish (some renames done,
    // epoch log absent). Its task attempt ids — and so its shard names —
    // can differ from this retry's, so an exists(target) check cannot
    // see them: sweep everything carrying this epoch's marker. The
    // sweep is an O(table) listing, so it is gated: the happy path
    // (a NEW epoch, strictly above everything logged) never pays it;
    // a commit that left an in-progress marker, OR an epoch at/below
    // the maximum logged epoch (a checkpoint ROLLBACK replaying an
    // epoch whose log record retention may have pruned — the case a
    // pure log check cannot cover) always does.
    f.mkdirs(logDir)
    val inprog = new Path(logDir, s".$epochId.inprogress")
    val maxLogged = f.listStatus(logDir)
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      .foldLeft(Long.MinValue)(math.max)
    if (f.exists(inprog) || epochId <= maxLogged) {
      // roll back the prior attempt's WAVE first: its key file carries
      // this epoch's tag, and it must go BEFORE its inserts are swept —
      // the inverse order would transiently (or, crashing again,
      // durably) serve the wave's deletes without its inserts, the
      // exact state the publish-last protocol forbids. Deleting the
      // key file first merely re-opens the transient-duplicates
      // window, which this replay is about to close anyway.
      if (upsertKeys.nonEmpty) {
        val eqd = JsonlEqDeletes.dir(dest)
        if (f.exists(eqd)) {
          val tagSuffix = s"-${epochQueryId(epochId)}.json"
          f.listStatus(eqd).filter(_.getPath.getName.endsWith(tagSuffix))
            .foreach(st => f.delete(st.getPath, false))
        }
      }
      // a prior attempt's shards may carry an equality-delete stamp
      // between the epoch marker and the extension, and either shard
      // format — the marker regex matches every form. A snapshot taken
      // while they were visible may reference them — retire, not drop
      val markerRe = epochShardRe(epochId)
      JsonlShards.retire(f, dest, JsonlLayout.discover(f, dest)
        .map(_._1).filter(pp => markerRe.matches(pp.getName)))
    }
    f.create(inprog, true).close()
    // an epoch on a graft.upsert.keys table is an upsert WAVE, same
    // protocol and crash posture as the batch commit; the epoch replay
    // sweeps the orphan shards by marker then re-claims a fresh
    // sequence. The key file carries THIS EPOCH'S TAG so a crash-replay
    // can roll the whole wave back (key file + marker-swept inserts)
    val delta = JsonlShards.publishWave(f, conf.value, dest,
      messages.toSeq.map { case m: JsonlCommitMessage => m }, upsertKeys,
      epochQueryId(epochId), sized = autoSnapshot)
    // intent marker BEFORE the durable commit point: a crash between
    // the log rename and the auto-pin would otherwise leave this
    // epoch's shards in no manifest forever (delta pins rebase the
    // previous manifest — they'd never be folded in, and a rollback
    // would delete them). The replay branch above and any later pin's
    // stale-intent repair both consume it.
    if (autoSnapshot)
      JsonlSnapshots.recordIntent(f, dest, epochQueryId(epochId))
    // durable epoch record, atomically renamed into place: any future
    // commit() of this epoch short-circuits above
    val tmp = new Path(logDir, s".$epochId.tmp")
    val out = f.create(tmp, true)
    out.writeBytes(s"${messages.length}\n")
    out.close()
    if (!f.rename(tmp, epochLog(epochId)) && !f.exists(epochLog(epochId)))
      throw new java.io.IOException(s"epoch $epochId log write failed")
    f.delete(inprog, false)
    // auto-snapshot per epoch: pinned AFTER the durable log record, so
    // a replayed epoch (which short-circuits above) never double-pins;
    // a crash between the log write and this pin is healed by the
    // intent marker (replay pins a full listing; a stale marker makes
    // the next pinner repair likewise) — version granularity degrades,
    // rows never differ and never unpin. The pin is a lock-free DELTA
    // rebase (this epoch's shards over the previous manifest): no
    // table listing, no lock acquisition.
    if (autoSnapshot) {
      JsonlSnapshots.autoPin(f, conf.value, dest, schema, Some(delta))
      JsonlSnapshots.clearIntent(f, dest, epochQueryId(epochId))
    }
    // retention: only the LATEST epoch can ever re-execute (the
    // checkpoint commit log serializes epochs), so old records are
    // dead weight — keep a generous window, drop the rest
    f.listStatus(logDir).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith(".") && scala.util.Try(n.toLong).toOption
            .exists(_ < epochId - 100))
        f.delete(st.getPath, false)
    }
    cleanupEpoch(f, epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanupEpoch(fs, epochId)

  private def cleanupEpoch(f: FileSystem, epochId: Long): Unit =
    JsonlShards.cleanupStaging(f, new Path(path), epochQueryId(epochId))
}

/** Staged shard(s) of one task: (staged path, partition-relative dir —
  * "" for a flat table), plus the writer-computed per-file skip stats
  * (keyed by staged path; empty unless `graft.skip.columns` is set —
  * see [[JsonlSkipIndex.ColumnsProperty]]). */
final case class JsonlCommitMessage(staged: Seq[(String, String)],
    stats: Map[String, JsonlSkipIndex.ShardWriteStats] = Map.empty,
    // equality-delete upsert waves ([[JsonlEqDeletes]]): the task's
    // distinct rendered key tuples; empty unless graft.upsert.keys
    upsertKeys: Set[String] = Set.empty)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** One function per step of a graft-jsonl shard's life after its task
  * closes it: [[publish]] takes staged shards live, [[retire]] takes
  * live ones out, [[pruneEmptyDirs]] drops the partition dirs a drop
  * emptied, and [[cleanupStaging]] drops a write's staging dir. Every
  * commit and destructive table operation goes through these, so what
  * rides along with a shard (its skip-index entry, its merge-on-read
  * sidecar, its snapshot retention) is handled in one place. Callers
  * own the locks, the intent markers and the order of the steps. */
object JsonlShards {
  /** `p` relative to the table root — both sides qualified, since
    * `URI.relativize` silently returns its argument on a scheme
    * mismatch. */
  def relOf(fs: FileSystem, root: Path, p: Path): String =
    fs.makeQualified(root).toUri.relativize(fs.makeQualified(p).toUri).getPath

  /** The shard files directly in `dir` (none if it is gone). */
  def shardsIn(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(st => st.isFile &&
      JsonlLayout.isShard(st.getPath.getName)).map(_.getPath)

  /** Land staged (file, partition-relative dir) pairs: each renames
    * into its dir under its name stamped with equality-delete sequence
    * `seq` ([[JsonlEqDeletes.stampName]]), then the write-time skip
    * stats the writers tracked (`stats`, keyed by staged path) merge
    * into the index in one update, keyed by table-relative path. A
    * crash before the merge only leaves the new shards index-unseen —
    * scanned conservatively. Returns the added rel → byte length map
    * the auto-pin delta needs when `sized`, else an empty map. */
  def publish(fs: FileSystem, root: Path, staged: Seq[(String, String)],
              stats: Map[String, JsonlSkipIndex.ShardWriteStats], seq: Long,
              sized: Boolean): Map[String, Long] = {
    val rels = staged.map { case (stagedFile, relDir) =>
      val rel = landedRel(stagedFile, relDir, seq)
      move(fs, new Path(stagedFile), new Path(root, rel), "commit rename")
      stagedFile -> rel
    }
    JsonlSkipIndex.mergeEntries(fs, root,
      rels.flatMap { case (s, rel) => stats.get(s).map(rel -> _) })
    if (!sized) Map.empty
    else rels.map { case (_, rel) =>
      rel -> fs.getFileStatus(new Path(root, rel)).getLen }.toMap
  }

  /** The table-relative path [[publish]] lands staged `file` at: in
    * partition-relative dir `relDir`, under its name stamped with `seq`. */
  def landedRel(file: String, relDir: String, seq: Long): String = {
    val name = JsonlEqDeletes.stampName(new Path(file).getName, seq)
    if (relDir.isEmpty) name else s"$relDir/$name"
  }

  private def move(fs: FileSystem, from: Path, to: Path, what: String): Unit = {
    fs.mkdirs(to.getParent)
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"$what failed for $from")
  }

  /** Replace live shards by staged ones — the one swap behind a
    * copy-on-write commit, `CALL compact` and `CALL cluster_table`
    * (caller holds the lock covering `replaced` and has refused over
    * crashed swap dirs). In order:
    *   1. each of `replaced` still live MOVES into `trash` at its
    *      table-relative path (a task's shard name repeats across
    *      `k=v/` dirs, so a flat trash could collide), its
    *      merge-on-read sidecar beside it under `trash/_deletes/` (the
    *      rewrite already applied it); a recovery is a plain move-back;
    *   2. `staged` lands through [[publish]] at sequence `seq` with the
    *      caller's skip `stats`;
    *   3. the trash sweeps through snapshot retention and drops;
    *   4. the skip index forgets the replaced shards;
    *   5. the data and `_deletes` dirs the swap emptied are pruned.
    * Only the named shards move, so a shard appended beside them
    * mid-rewrite stays live. Out-then-in: a reader listing mid-swap may
    * miss rows of a touched dir but never sees one twice. A crash
    * before step 3 leaves the trash holding the only copy of the
    * replaced shards. Returns the published table-relative paths, in
    * `staged` order. */
  def swap(fs: FileSystem, root: Path, trash: Path, replaced: Seq[Path],
           staged: Seq[(String, String)],
           stats: Map[String, JsonlSkipIndex.ShardWriteStats],
           seq: Long): Seq[String] = {
    val sidecars = new Path(root, JsonlDeletes.DirName)
    val withSidecars = fs.exists(sidecars)
    val gone = replaced.filter(fs.exists).map { p =>
      val rel = relOf(fs, root, p)
      move(fs, p, new Path(trash, rel), "swap-out")
      val sc = new Path(sidecars, rel + JsonlDeletes.Suffix)
      val scGone = withSidecars && fs.exists(sc)
      if (scGone) move(fs, sc,
        new Path(trash, s"${JsonlDeletes.DirName}/$rel${JsonlDeletes.Suffix}"),
        "swap-out")
      (rel, scGone)
    }
    publish(fs, root, staged, stats, seq, sized = false)
    JsonlSnapshots.retainFromTrash(fs, root, trash, relOf(fs, trash, _))
    fs.delete(trash, true)
    val rels = gone.map(_._1)
    JsonlSkipIndex.removeEntries(fs, root, rels)
    pruneEmptyDirs(fs, root, dirsOf(root, rels) ++
      dirsOf(sidecars, gone.collect { case (rel, true) => rel }))
    staged.map { case (f, d) => landedRel(f, d, seq) }
  }

  /** [[publish]] the task output of a batch or streaming epoch. On a
    * table declaring `graft.upsert.keys` (`upsertCols`) it is an
    * upsert WAVE: claim the next equality-delete sequence, land the
    * insert shards STAMPED with it, then publish the key file LAST —
    * the wave's atomic commit point. A crash before it leaves the
    * stamped inserts visible WITHOUT their deletes: transient
    * duplicates, healed by the retry's own higher-sequence wave over
    * the same keys — never the inverse window where matched rows
    * vanish without replacements. A failed wave tombstones its
    * sequence in `releaseClaim` (the key file is absent), so orphan
    * stamped shards can never be exempted from a reassigned number's
    * deletes. Any other publish stamps at the current max sequence so
    * its rows are never hidden by past waves. `tag` names the key file
    * (a streaming epoch's, for its replay rollback; null for batch).
    * Returns the commit's pin delta as far as the publish knows it:
    * the added shards (when `sized`) and the wave's key file. */
  def publishWave(fs: FileSystem, conf: Configuration, root: Path,
                  msgs: Seq[JsonlCommitMessage], upsertCols: Seq[String],
                  tag: String, sized: Boolean): JsonlSnapshots.PinDelta = {
    val staged = msgs.flatMap(_.staged)
    val wave = upsertCols.nonEmpty && staged.nonEmpty
    val (seq, token) =
      if (!wave) (JsonlEqDeletes.currentSeq(fs, root), null: Array[Byte])
      else JsonlEqDeletes.claimNextWithToken(fs, root,
        conf.getLong(JsonlSnapshots.ClaimStaleMsKey,
          JsonlSnapshots.DefaultClaimStaleMs))
    try {
      val added = publish(fs, root, staged, msgs.flatMap(_.stats).toMap, seq,
        sized)
      if (wave)
        JsonlEqDeletes.publish(fs, root, seq, upsertCols,
          msgs.iterator.flatMap(_.upsertKeys).toSet, tag, token = token)
      JsonlSnapshots.PinDelta(added, Map.empty, Set.empty,
        eqAdded = if (wave) Seq(JsonlEqDeletes.keyFileName(seq, tag)) else Nil)
    } finally if (wave) JsonlEqDeletes.releaseClaim(fs, root, seq, tag)
  }

  /** Take live `shards` out of the table (caller holds the table
    * lock): each goes through snapshot retention
    * ([[JsonlSnapshots.discardShard]] — a shard a manifest references
    * moves under `_snapshots/retained/`), its merge-on-read sidecar is
    * dropped (it indexes rows that are gone; snapshots embed their
    * ordinals, so none depends on it), and the skip index forgets
    * them in one update. `dirs`, when given, are the table-relative
    * dirs the set empties: their manifests drop whole; `""` — the
    * whole table — drops the index and the `_deletes` tree outright.
    * A table without sidecars pays one existence probe. Returns the
    * shards' table-relative paths. */
  def retire(fs: FileSystem, root: Path, shards: Seq[Path],
             dirs: Seq[String] = Nil): Seq[String] = {
    val referenced =
      if (shards.isEmpty) Set.empty[String]
      else JsonlSnapshots.referencedRels(fs, root)
    val rels = shards.map { p =>
      val rel = relOf(fs, root, p)
      JsonlSnapshots.discardShard(fs, root, p, rel, referenced)
      rel
    }
    val sidecars = new Path(root, JsonlDeletes.DirName)
    if (dirs.contains("")) {
      fs.delete(sidecars, true)
      JsonlSkipIndex.dropAll(fs, root)
    } else {
      if (rels.nonEmpty && fs.exists(sidecars)) rels.foreach { rel =>
        fs.delete(new Path(sidecars, rel + JsonlDeletes.Suffix), false)
      }
      if (dirs.isEmpty) JsonlSkipIndex.removeEntries(fs, root, rels)
      else JsonlSkipIndex.removeDirs(fs, root, dirs)
    }
    rels
  }

  /** [[retire]] every data entry under `root`, recursively (a
    * previously PARTITIONED layout goes too), keeping metadata — the
    * `_`/`.`-prefixed top-level entries: table spec, stream log,
    * snapshots. Non-shard files are deleted, then every data dir left
    * empty. The wipe behind TRUNCATE TABLE, the unconditional DELETE
    * and a truncating overwrite. */
  def retireAll(fs: FileSystem, root: Path): Unit = {
    val shards, others, dirs = Seq.newBuilder[Path]
    def walk(st: org.apache.hadoop.fs.FileStatus): Unit =
      if (st.isDirectory) {
        fs.listStatus(st.getPath).foreach(walk)
        dirs += st.getPath // children first: a dir empties after them
      } else if (JsonlLayout.isShard(st.getPath.getName)) shards += st.getPath
      else others += st.getPath
    fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }.foreach(walk)
    retire(fs, root, shards.result(), Seq(""))
    others.result().foreach(fs.delete(_, false))
    dirs.result().foreach { d =>
      if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
    }
  }

  /** Drop each of `dirs`, then its ancestors below `root`, while it
    * holds nothing, so a value an operation emptied leaves the layout
    * (and SPJ partition listings). Only these dirs: an empty `k=v` dir
    * elsewhere in the table (one `ADD PARTITION` made) stays. */
  def pruneEmptyDirs(fs: FileSystem, root: Path, dirs: Seq[Path]): Unit =
    dirs.distinct.foreach { d =>
      var dir = d
      while (dir.depth > root.depth && fs.exists(dir) && fs.listStatus(dir).isEmpty) {
        fs.delete(dir, false)
        dir = dir.getParent
      }
    }

  /** The dirs that held the shards at table-relative paths `rels`. */
  def dirsOf(root: Path, rels: Seq[String]): Seq[Path] =
    rels.map(new Path(root, _).getParent)

  /** Drop write `id`'s staging dir, then the `_staging` parent once no
    * concurrent write holds it. STRICTLY best-effort: a commit runs it
    * after its data, stats and pin have landed and its lock is
    * released — a throw would report a COMMITTED write as failed, and
    * a framework retry of a plain append would then double-apply it.
    * The exists/isEmpty probe races concurrent writers creating or
    * dropping their own staging subdirs (local-FS delete throws on a
    * dir that fills mid-call), so swallow it: a leftover `_staging`
    * dir is invisible to readers (`_` prefix) and the next commit's
    * sweep gets another chance. */
  def cleanupStaging(fs: FileSystem, root: Path, id: String): Unit =
    try {
      fs.delete(new Path(root, s"_staging/$id"), true)
      val parent = new Path(root, "_staging")
      if (fs.exists(parent) && fs.listStatus(parent).isEmpty)
        fs.delete(parent, false)
    } catch { case _: java.io.IOException => () }
}

final class JsonlBatchWrite(schema: StructType, path: String, queryId: String,
                            truncate: Boolean, partCols: Seq[String],
                            dynamicOverwrite: Boolean = false,
                            overwriteFilters: Array[Filter] = null,
                            replaceShards: () => Seq[String] = null,
                            skipCols: Seq[String] = Nil,
                            autoSnapshot: Boolean = false,
                            upsertKeys: Seq[String] = Nil,
                            orderCols: Seq[String] = Nil,
                            format: String = "jsonl",
                            parquetConf: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  private val conf = JsonlHadoopConf.fromSession(parquetConf)
  private def fs = new Path(path).getFileSystem(conf.value)
  // COW group rewrite, TRUNCATE, static/dynamic INSERT OVERWRITE; a
  // plain append is the only other shape
  private val destructive = replaceShards != null || truncate ||
    overwriteFilters != null || dynamicOverwrite

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new JsonlWriterFactory(schema, path, queryId, conf, partCols, skipCols,
      if (destructive) Nil else upsertKeys, orderCols, format)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val f = fs
    val dest = new Path(path)
    f.mkdirs(dest)
    val msgs = messages.toSeq.map { case m: JsonlCommitMessage => m }
    val staged = msgs.flatMap(_.staged)
    // single-writer enforcement for every DESTRUCTIVE commit — same
    // contract as the merge-on-read delta commit: the whole
    // discard + publish runs under _rlo_lock, so a concurrent
    // row-level operation can't race the swap on the shards being
    // retired, and a CALL snapshot (which also takes the lock) can't
    // pin a half-overwritten table. Plain appends stay lockless:
    // their only mutation is an atomic rename into the layout.
    // DYNAMIC partition overwrite replaces exactly the dirs the write
    // produced — lock just those scopes, so overwrites of disjoint
    // partitions commit in parallel (auto-snapshot no longer forces
    // the table lock: pins are claim-CAS and this commit pins its own
    // DELTA, so concurrent scoped writers' pins stay exact); every
    // other destructive shape is table-wide
    val scopedDynamic = dynamicOverwrite && replaceShards == null &&
      !truncate && overwriteFilters == null && partCols.nonEmpty
    val scopes: Seq[String] =
      if (scopedDynamic) staged.map(_._2).distinct
      else Nil
    val rloLeases: Seq[RowLevelLock.Lease] =
      if (destructive)
        RowLevelLock.acquireScoped(f, conf.value, dest, queryId, scopes)
      else Nil
    try {
    // a crashed swap dir (this commit's `_cow_trash` or a maintenance
    // CALL's trash or staging) may hold the only copy of shards this
    // commit would replace — refuse until an operator restores them
    if (replaceShards != null)
      JsonlSnapshots.requireNoCrashedSwaps(f, dest,
        "graft-jsonl row-level commit")
    // intent marker before the first mutation: if this commit dies
    // after its renames but before its auto-pin, its shards are live
    // in NO manifest — a delta-pin chain would never fold them in and
    // a rollback would delete them. The next pin's stale-intent repair
    // (full listing) consumes the marker; success consumes it below.
    if (autoSnapshot) JsonlSnapshots.recordIntent(f, dest, queryId)
    // every retire below reads the snapshot-referenced set INSIDE the
    // lock: a CALL snapshot serializes against this commit, so the set
    // can't grow between reading it and discarding shards it should
    // have retained. A truncate wipes every data entry; the staged
    // shards' write-time stats re-seed the index below
    if (truncate) JsonlShards.retireAll(f, dest)
    if (overwriteFilters != null) {
      // static partition overwrite: drop every shard the predicate
      // selects (decidability pre-checked by the builder), then land
      // the staged shards — whether or not the new data touches them
      val layout =
        JsonlLayout.discover(f, dest, JsonlTable.segmentAliasesOf(schema))
      // mirror deleteWhere: a shard that doesn't pin every referenced
      // column (root-appended, values only in its JSON lines) may hold
      // matching rows the directory drop can't see — skipping it would
      // silently leave stale rows beside the overwrite, so refuse
      val refs = overwriteFilters.flatMap(_.references).distinct
      val uncovered = layout.filterNot { case (_, pv) => refs.forall(pv.contains) }
      if (uncovered.nonEmpty)
        throw new UnsupportedOperationException(
          s"graft-jsonl INSERT OVERWRITE: ${uncovered.size} shard(s) outside " +
            s"the partition layout for ${refs.mkString(",")} " +
            s"(e.g. ${uncovered.head._1}) — compact the table into the hive " +
            "layout first, or use dynamic partition overwrite")
      JsonlShards.retire(f, dest, layout.collect { case (shard, pv)
        if overwriteFilters.forall(fl => pv.forall { case (k, v) =>
          JsonlPartitionPruning.admits(fl, k, v, schema) }) => shard })
    }
    var dynRemoved = Seq.empty[String]
    if (dynamicOverwrite) {
      // replace exactly the partition values the write produced: old
      // shards of a touched dir go, untouched dirs stay byte-identical.
      // After a partition-column RENAME the same logical value may also
      // live under a pre-rename dir name — expand each touched dir to
      // its alias variants so the replacement can't leave the old
      // generation's copy live beside the overwrite
      val segRev: Map[String, Seq[String]] = schema.fields.iterator
        .map(fl => fl.name -> JsonlTable.partAliasesOf(fl))
        .filter(_._2.nonEmpty).toMap
      val touchedDirs = staged.map(_._2).distinct.filter(_.nonEmpty)
        .flatMap(JsonlLayout.aliasVariantDirs(_, segRev)).distinct
      // whole-dir replacement: each touched partition's index manifest
      // drops in one list update instead of per-shard edits
      dynRemoved = JsonlShards.retire(f, dest,
        touchedDirs.flatMap(d => JsonlShards.shardsIn(f, new Path(dest, d))),
        touchedDirs)
    }
    // snapshots compose with upsert waves: manifests embed the key
    // files pending at pin time (and a wave's delta pin adds its own),
    // so a pinned scan applies the same equality rule and serves the
    // upserted pin-time state; rollback restores the pinned equality
    // set with the shards
    val delta =
      if (replaceShards == null)
        JsonlShards.publishWave(f, conf.value, dest, msgs,
          if (destructive) Nil else upsertKeys, tag = null, sized = autoSnapshot)
      else {
        // group copy-on-write commit: the scanned shards ARE the
        // replaced set. A driver crash mid-swap must never lose the
        // only copy of a group, so the swap moves them into
        // `_cow_trash/` and drops it only after every replacement
        // landed; the pin below lists the table, so no delta is kept
        JsonlShards.swap(f, dest, new Path(dest, "_cow_trash"),
          replaceShards().map(new Path(_)), staged, msgs.flatMap(_.stats).toMap,
          JsonlEqDeletes.currentSeq(f, dest))
        JsonlSnapshots.PinDelta(Map.empty, Map.empty, Set.empty)
      }
    // auto-snapshot (graft.snapshot.auto): pin a version for THIS
    // commit, lock-free (claim-CAS id assignment). Plain appends AND
    // partition-scoped dynamic overwrites know their exact delta
    // (adds, plus the touched dirs' discarded shards) — their pins
    // rebase the previous manifest with no table listing, so
    // disjoint-partition writers' concurrent pins never capture each
    // other's mid-swap windows; diffuse destructive shapes (truncate /
    // COW / static overwrite) pin a full listing under the table lock
    if (autoSnapshot) {
      JsonlSnapshots.autoPin(f, conf.value, dest, schema,
        if (!destructive) Some(delta)
        else if (scopedDynamic) Some(delta.copy(removed = dynRemoved.toSet))
        else None)
      JsonlSnapshots.clearIntent(f, dest, queryId)
    }
    } finally RowLevelLock.releaseAll(f, rloLeases)
    JsonlShards.cleanupStaging(f, dest, queryId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    JsonlShards.cleanupStaging(fs, new Path(path), queryId)
}

/** Executor-side factory for every graft-jsonl write, batch and
  * streaming — a standalone Serializable class (the BatchWrite and
  * StreamingWrite stay driver-only). A streaming writer's id is
  * `<queryId>-e<epochId>`: the epoch marker its published shard names
  * carry for the replay sweep. */
final class JsonlWriterFactory(schema: StructType, path: String,
                               queryId: String, conf: JsonlHadoopConf,
                               partCols: Seq[String] = Nil,
                               skipCols: Seq[String] = Nil,
                               upsertKeys: Seq[String] = Nil,
                               orderCols: Seq[String] = Nil,
                               format: String = "jsonl")
    extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  private def writer(id: String, partitionId: Int, taskId: Long) =
    new JsonlPartitionedDataWriter(schema, path, id, partitionId, taskId,
      conf, partCols, skipCols, upsertKeys, orderCols, format)
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    writer(queryId, partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    writer(s"$queryId-e$epochId", partitionId, taskId)
}

/** The one task writer: routes clustered+sorted rows into `k=v/` hive
  * dirs — the table root when `partCols` is empty — with one staged
  * file open at a time, closed when the partition-value tuple changes
  * (ordering is guaranteed by [[JsonlWriteBuilder]]'s
  * RequiresDistributionAndOrdering). Partition values are encoded in
  * the DIRECTORY only — the rows omit those fields, exactly the
  * layout [[JsonlLayout.discover]] reads back with value injection. A
  * file opens with its first row, so an empty task publishes nothing.
  * Every name ends in `-<queryId>` before the extension (a UUID, or a
  * stream's epoch marker): task ids are only unique within one
  * SparkContext, and an append from a fresh application would
  * otherwise stage `part-00000-0` again and rename-overwrite an
  * existing shard — the same reason Spark's file committers put a job
  * UUID in every part file name. */
final class JsonlPartitionedDataWriter(schema: StructType, path: String,
                                       queryId: String, partitionId: Int,
                                       taskId: Long, conf: JsonlHadoopConf,
                                       partCols: Seq[String],
                                       skipCols: Seq[String] = Nil,
                                       upsertKeyCols: Seq[String] = Nil,
                                       orderCols: Seq[String] = Nil,
                                       format: String = "jsonl")
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val upsertIdx: Seq[Int] =
    upsertKeyCols.filter(schema.fieldNames.contains).map(schema.fieldIndex)
  private val upsertKeys = scala.collection.mutable.HashSet.empty[String]

  private val partIdx: Seq[Int] = partCols.map(schema.fieldIndex)
  private val dataIdx: Seq[Int] =
    schema.fields.indices.filterNot(partIdx.contains)
  private var currentKey: Seq[Option[String]] = null
  private var out: ShardFileSink = _
  private var staged: List[(String, String)] = Nil
  private var fileSeq = 0
  private val tracker =
    new JsonlSkipIndex.ShardStatsTracker(schema, skipCols, orderCols)
  private var stats = Map.empty[String, JsonlSkipIndex.ShardWriteStats]
  private def snapshotCurrent(): Unit =
    if (tracker.active && out != null) {
      stats += staged.head._1 -> tracker.snapshot()
      tracker.reset()
    }

  private def keyOf(row: InternalRow): Seq[Option[String]] =
    partIdx.map { i =>
      if (row.isNullAt(i)) None
      else Some(JsonlLayout.partValueString(row, i, schema.fields(i).dataType))
    }

  private def roll(key: Seq[Option[String]]): Unit = {
    snapshotCurrent() // per-FILE stats: the closing file's counters
    if (out != null) out.close()
    currentKey = key
    val relDir = JsonlLayout.relDirOf(partCols, key)
    // a task's later files add their roll sequence to the name
    val seq = if (fileSeq == 0) "" else s"-$fileSeq"
    val name = f"part-$partitionId%05d-$taskId$seq-$queryId" +
      ShardFileSink.extensionOf(format)
    val p = new Path(path,
      s"_staging/$queryId/${if (relDir.isEmpty) name else s"$relDir/$name"}")
    fileSeq += 1
    staged ::= (p.toString, relDir)
    out = ShardFileSink(format, p, schema, dataIdx, conf)
  }

  override def write(row: InternalRow): Unit = {
    val key = keyOf(row)
    if (currentKey == null || key != currentKey) roll(key)
    if (tracker.active) tracker.update(row)
    if (upsertIdx.nonEmpty)
      upsertKeys += JsonlEqDeletes.renderRow(row, schema, upsertIdx)
    out.write(row)
  }

  override def commit(): JsonlCommitMessage = {
    snapshotCurrent()
    if (out != null) out.close()
    JsonlCommitMessage(staged.reverse, stats, upsertKeys.toSet)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    val f = new Path(path).getFileSystem(conf.value)
    staged.foreach { case (s, _) => f.delete(new Path(s), false) }
  }

  override def close(): Unit = ()
}

/** Per-file row encoder behind the task writer — ONE open file at a
  * time, rolled on partition key change. The JSONL
  * sink streams gzip JSON lines keyed by physical storage keys; the
  * parquet sink routes the same rows through Spark's own parquet
  * writer ([[org.apache.spark.sql.graftbridge.ParquetShardIO]]) with a
  * physical-key file schema, projecting partition columns OUT (values
  * ride the `k=v` dirs in both formats). */
private[dsv2] sealed trait ShardFileSink {
  def write(row: InternalRow): Unit
  def close(): Unit
}

private[dsv2] object ShardFileSink {
  def extensionOf(format: String): String =
    if (format == "parquet") GraftParquetShard.Suffix else ".jsonl.gz"

  def apply(format: String, p: Path, schema: StructType,
            indices: Seq[Int], conf: JsonlHadoopConf): ShardFileSink =
    if (format == "parquet") new ParquetSink(p, schema, indices, conf)
    else new JsonSink(p, schema, indices, conf)

  private final class JsonSink(p: Path, schema: StructType,
                               indices: Seq[Int], conf: JsonlHadoopConf)
      extends ShardFileSink {
    private val mapper = new ObjectMapper()
    private val out = {
      val f = p.getFileSystem(conf.value)
      new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(f.create(p, true)),
        StandardCharsets.UTF_8))
    }
    override def write(row: InternalRow): Unit = {
      val node = mapper.createObjectNode()
      indices.foreach { i =>
        val f = schema.fields(i)
        val key = JsonlTable.physicalKeyOf(f)
        if (row.isNullAt(i)) node.putNull(key)
        else node.set[JsonNode](key, JsonlJson.encode(
          mapper.getNodeFactory, row, i, f.dataType))
      }
      out.write(mapper.writeValueAsString(node))
      out.write("\n")
    }
    override def close(): Unit = out.close()
  }

  private final class ParquetSink(p: Path, schema: StructType,
                                  indices: Seq[Int], conf: JsonlHadoopConf)
      extends ShardFileSink {
    // codec + (zstd) level resolve from the carried conf: table
    // properties ride as overrides ([[JsonlTable.parquetWriteConf]]),
    // session conf fills in, zstd is the default
    private val writer = org.apache.spark.sql.graftbridge.ParquetShardIO
      .createWriter(p, GraftParquetShard.fileSchema(schema, indices),
        conf.value,
        conf.value.get(JsonlTable.ParquetCompressionProp, "zstd"),
        conf.value.getInt(JsonlTable.ParquetCompressionLevelProp, -1))
    private val view = org.apache.spark.sql.catalyst.ProjectingInternalRow(
      StructType(indices.map(schema.fields(_))), indices.toIndexedSeq)
    override def write(row: InternalRow): Unit = {
      view.project(row)
      writer.write(view)
    }
    override def close(): Unit = writer.close()
  }
}

/** JSON ↔ Catalyst value conversion for the full supported type
  * lattice: the five scalars, TIMESTAMP[_NTZ] (epoch MICROS as a JSON
  * number on write; number or ISO-8601 text on read), DATE (epoch
  * days / `yyyy-MM-dd`), and arbitrarily nested
  * ARRAY / STRUCT / MAP<STRING, _> (JSON arrays/objects — the shapes
  * an LLM corpus's metadata column actually holds). Decode is
  * type-checked at every level: a mismatched value reads as SQL null,
  * never a crash, matching the scalar readers' contract. Encode
  * refuses unsupported types loudly (never silently drops a column).
  * Pushed filters stay restricted to top-level scalars
  * ([[JsonlScanBuilder]]); everything else is residual, so filter
  * pushdown never has to understand these values. */
private[dsv2] object JsonlJson {
  import com.fasterxml.jackson.databind.node.JsonNodeFactory
  import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
  import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData}

  /** Field `i` of `g` (declared `dt`) as a JSON node; caller handles
    * the null check. */
  def encode(nf: JsonNodeFactory, g: SpecializedGetters, i: Int,
             dt: DataType): JsonNode = dt match {
    case LongType => nf.numberNode(g.getLong(i))
    case IntegerType => nf.numberNode(g.getInt(i))
    case DoubleType => nf.numberNode(g.getDouble(i))
    case BooleanType => nf.booleanNode(g.getBoolean(i))
    case StringType => nf.textNode(g.getUTF8String(i).toString)
    // narrow numerics round-trip as plain JSON numbers; filters on
    // them stay RESIDUAL (supportedType excludes them) so the pushed-
    // filter contract never evaluates these
    case FloatType => nf.numberNode(g.getFloat(i))
    case ShortType => nf.numberNode(g.getShort(i).toInt)
    case ByteType => nf.numberNode(g.getByte(i).toInt)
    // decimals as TEXT: a JSON double would corrupt > 2^53 scaled
    // values; the declared (p, s) re-types on read, so widening
    // DECIMAL(p,s) -> DECIMAL(p+k,s) reparses old shards exactly
    case dt: DecimalType =>
      nf.textNode(g.getDecimal(i, dt.precision, dt.scale)
        .toJavaBigDecimal.toPlainString)
    // epoch micros fit a JSON number exactly (|micros| < 2^53 until
    // year ~2255) — bit-exact round-trip, no timezone re-parse
    case TimestampType | TimestampNTZType => nf.numberNode(g.getLong(i))
    case DateType => nf.numberNode(g.getInt(i))
    case st: StructType =>
      val r = g.getStruct(i, st.length)
      val o = nf.objectNode()
      var j = 0
      while (j < st.length) {
        val f = st.fields(j)
        if (r.isNullAt(j)) o.putNull(f.name)
        else o.set[JsonNode](f.name, encode(nf, r, j, f.dataType))
        j += 1
      }
      o
    case at: ArrayType =>
      val arr = g.getArray(i)
      val a = nf.arrayNode()
      var j = 0
      while (j < arr.numElements()) {
        if (arr.isNullAt(j)) a.addNull()
        else a.add(encode(nf, arr, j, at.elementType))
        j += 1
      }
      a
    case mt: MapType if mt.keyType == StringType =>
      val m = g.getMap(i)
      val ks = m.keyArray(); val vs = m.valueArray()
      val o = nf.objectNode()
      var j = 0
      while (j < m.numElements()) {
        val k = ks.getUTF8String(j).toString
        if (vs.isNullAt(j)) o.putNull(k)
        else o.set[JsonNode](k, encode(nf, vs, j, mt.valueType))
        j += 1
      }
      o
    case other => throw new UnsupportedOperationException(
      s"graft-jsonl write: unsupported type $other")
  }

  /** A parsed JSON value as the Catalyst representation of `dt`;
    * null on any type mismatch (SQL-null, the scalar readers'
    * posture). Zone-less callers (tests, tools) parse textual zoned
    * timestamps as UTC; the readers pass the SESSION time zone so an
    * externally-authored ISO text timestamp materializes exactly as
    * Spark's own string→timestamp cast would read it. */
  def decode(v: JsonNode, dt: DataType): Any =
    decode(v, dt, java.time.ZoneOffset.UTC)

  def decode(v: JsonNode, dt: DataType, zone: java.time.ZoneId): Any =
    if (v == null || v.isNull) null
    else dt match {
      case LongType => if (v.isNumber) java.lang.Long.valueOf(v.asLong) else null
      case IntegerType => if (v.isNumber) java.lang.Integer.valueOf(v.asInt) else null
      case DoubleType => if (v.isNumber) java.lang.Double.valueOf(v.asDouble) else null
      case BooleanType => if (v.isBoolean) java.lang.Boolean.valueOf(v.asBoolean) else null
      case StringType => if (v.isTextual) UTF8String.fromString(v.asText) else null
      case FloatType =>
        if (v.isNumber) java.lang.Float.valueOf(v.asDouble.toFloat) else null
      case ShortType =>
        if (v.isNumber) java.lang.Short.valueOf(v.asInt.toShort) else null
      case ByteType =>
        if (v.isNumber) java.lang.Byte.valueOf(v.asInt.toByte) else null
      case dtt: DecimalType =>
        // text (the writer's form) or number (externally-authored)
        if (!v.isTextual && !v.isNumber) null
        else try {
          val d = org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(v.asText))
          if (d.changePrecision(dtt.precision, dtt.scale)) d else null
        } catch { case _: NumberFormatException => null }
      case TimestampType =>
        if (v.isNumber) java.lang.Long.valueOf(v.asLong)
        else if (v.isTextual)
          DateTimeUtils.stringToTimestamp(UTF8String.fromString(v.asText),
            zone).map(java.lang.Long.valueOf).orNull
        else null
      case TimestampNTZType =>
        if (v.isNumber) java.lang.Long.valueOf(v.asLong)
        else if (v.isTextual)
          DateTimeUtils.stringToTimestampWithoutTimeZone(
            UTF8String.fromString(v.asText)).map(java.lang.Long.valueOf).orNull
        else null
      case DateType =>
        if (v.isNumber) java.lang.Integer.valueOf(v.asInt)
        else if (v.isTextual)
          DateTimeUtils.stringToDate(UTF8String.fromString(v.asText))
            .map(java.lang.Integer.valueOf).orNull
        else null
      case st: StructType =>
        if (!v.isObject) null
        else {
          val r = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(st.length)
          var j = 0
          while (j < st.length) {
            r.update(j,
              decode(v.get(st.fields(j).name), st.fields(j).dataType, zone))
            j += 1
          }
          r
        }
      case at: ArrayType =>
        if (!v.isArray) null
        else {
          val out = new Array[Any](v.size())
          var j = 0
          while (j < v.size()) {
            out(j) = decode(v.get(j), at.elementType, zone); j += 1
          }
          new GenericArrayData(out)
        }
      case mt: MapType if mt.keyType == StringType =>
        if (!v.isObject) null
        else {
          val ks = Array.newBuilder[Any]
          val vs = Array.newBuilder[Any]
          v.properties().forEach { e =>
            ks += UTF8String.fromString(e.getKey)
            vs += decode(e.getValue, mt.valueType, zone)
          }
          ArrayBasedMapData(ks.result(), vs.result())
        }
      case _ => null
    }
}

final class JsonlReaderFactory(required: StructType, pushed: Array[Filter],
                               dataSchema: StructType,
                               conf: JsonlHadoopConf,
                               limit: Int = -1,
                               // BROADCAST, not a closure field: the
                               // key map can be O(pending upserts) and
                               // must ship once per executor, not once
                               // per task
                               eqDeletes: org.apache.spark.broadcast.Broadcast[Map[String, Long]] = null,
                               eqCols: Seq[String] = Nil,
                               // over-cap executor-direct path: key
                               // file paths instead of a map — each
                               // executor builds the shared index once
                               // ([[JsonlEqDeletes.ExecutorIndexCache]])
                               eqFiles: Seq[String] = Nil,
                               // TRUE vectorized parquet decode for the
                               // whole scan — set only when EVERY
                               // planned partition emits all rows
                               // verbatim-or-masked (see
                               // JsonlScan.planInputPartitions)
                               vectorized: Boolean = false,
                               // DECLINED filters (parquet-format
                               // tables): row-group pruning only —
                               // FilterExec re-checks above the scan
                               pruneFilters: Array[Filter] = Array.empty)
    extends PartitionReaderFactory {
  // SCAN-LEVEL decision (Spark refuses mixed row/columnar partition
  // sets): `vectorized` was computed by the scan over the WHOLE planned
  // partition set
  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[JsonlInputPartition]
    val (eqMap, eqC) = ShardRowReader.eqState(conf, p, eqDeletes, eqCols, eqFiles)
    new ShardRowReader(p, required, dataSchema, conf, pushed, limit,
      eqMap, eqC, prune = pruneFilters)
  }
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ParquetVectorizedShardReader(
      partition.asInstanceOf[JsonlInputPartition], required, dataSchema,
      conf, pruneFilters)
}
