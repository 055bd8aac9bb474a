package org.apache.spark.sql.graftbridge

import java.time.ZoneId

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetRecordReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport, ParquetToSparkSchemaConverter, ParquetWriteSupport}
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's own parquet <-> `InternalRow` machinery
  * (`ParquetWriteSupport` / `ParquetReadSupport`, the classes behind
  * `spark.read.parquet`) for the graft connector's columnar at-rest
  * shard format. Lives under `org.apache.spark.sql` solely for
  * access-proofing against `private[sql]` tightening, the same pattern
  * as [[ColumnBridge]]; the graft-facing surface is
  * `graft.sources.dsv2.GraftParquetShard`.
  *
  * One shard = one parquet file, written and read WHOLE (the
  * connector's parallelism unit is the shard, and sequential
  * whole-file reads keep row ordinals stable — the same `_pos`
  * contract the JSONL line reader provides, which the merge-on-read
  * position deletes depend on). Timestamps are written as annotated
  * MICROS with rebase mode CORRECTED on both paths — modern files,
  * no Julian-era ambiguity.
  */
object ParquetShardIO {

  /** All write-path conf the `ParquetWriteSupport.init` contract
    * asserts on, pinned explicitly (the shard writer runs outside any
    * SQLConf): standard non-legacy layout, annotated int64 MICROS
    * timestamps, CORRECTED rebase, no field ids. */
  private def writeConf(base: Configuration, schema: StructType)
      : Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = new Configuration(base)
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    conf
  }

  private class RowBuilder(out: HadoopOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowBuilder](out) {
    override def self(): RowBuilder = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport
  }

  /** Writer for one shard file: `fileSchema` names are the PHYSICAL
    * storage keys (rename/drop indirection is resolved by the caller);
    * rows must match it positionally. */
  def createWriter(file: Path, fileSchema: StructType, base: Configuration,
                   codec: String,
                   zstdLevel: Int = -1): ParquetWriter[InternalRow] = {
    val conf = writeConf(base, fileSchema)
    // zstd effort knob (parquet's own key; its default is 3): lower =
    // faster writes / larger files — the write-latency-vs-bytes
    // trade-off `graft.parquet.compression.level` exposes per table
    if (zstdLevel >= 0)
      conf.setInt("parquet.compression.codec.zstd.level", zstdLevel)
    new RowBuilder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withCompressionCodec(
        CompressionCodecName.fromConf(codec.toUpperCase(java.util.Locale.ROOT)))
      // row-group grain: parquet's default 128 MB; tunable per session
      // (`graft.parquet.rowgroup.bytes` rides the session->Hadoop conf
      // bridge) — smaller groups widen row-group pruning at the cost
      // of encoding efficiency
      .withRowGroupSize(conf.getLong("graft.parquet.rowgroup.bytes",
        org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE.toLong))
      .build()
  }

  /** Whole-file row reader: yields rows positionally matching
    * `readSchema` (names must be storage keys as present in the file —
    * a requested column ABSENT from the file reads as null, Spark's
    * own schema-evolution posture, which also covers widened numeric
    * types via the converter's type-promotion support).
    *
    * `rowGroupFilter`, when set, prunes ROW GROUPS (and dictionary
    * pages) by footer statistics before any page decodes — record-
    * level assembly filtering stays OFF so surviving groups emit every
    * row. CALLER CONTRACT: skipping whole groups SHIFTS row ordinals,
    * so this must stay None whenever `_pos` semantics are live
    * (position-delete sidecars, snapshot-pinned ordinals, CDC keep
    * sets, or a `_pos` projection). */
  private def readConf(base: Configuration, readSchema: StructType,
                       rowGroupFilter: Option[org.apache.parquet.filter2
                         .predicate.FilterPredicate]): Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = new Configuration(base)
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      readSchema.json)
    // the vectorized reader resolves its ReadSupport by class name
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    // every key ParquetToSparkSchemaConverter(conf) reads, pinned —
    // the shard reader runs on bare executors with no SQLConf to
    // supply defaults, and several entries are read unguarded
    conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    conf.set(SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION.key, "false")
    conf.set(SQLConf.CASE_SENSITIVE.key, "false")
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    conf.set(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    conf.set(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      "false")
    conf.set(SQLConf.VARIANT_ALLOW_READING_SHREDDED.key, "false")
    rowGroupFilter.foreach { p =>
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, p)
      // statistics + dictionary row-group pruning only: record-level
      // assembly filtering would change which rows a surviving group
      // emits (the reader's own evaluation covers residuals exactly)
      conf.setBoolean(
        org.apache.parquet.hadoop.ParquetInputFormat.RECORD_FILTERING_ENABLED,
        false)
    }
    conf
  }

  private def splitAndContext(file: Path, conf: Configuration)
      : (org.apache.hadoop.mapreduce.lib.input.FileSplit,
         org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl) = {
    val fs = file.getFileSystem(conf)
    (new org.apache.hadoop.mapreduce.lib.input.FileSplit(
      file, 0, fs.getFileStatus(file).getLen, Array.empty[String]),
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID()))
  }

  def openReader(file: Path, readSchema: StructType, base: Configuration,
                 rowGroupFilter: Option[org.apache.parquet.filter2.predicate
                   .FilterPredicate] = None)
      : ParquetRecordReader[InternalRow] = {
    val conf = readConf(base, readSchema, rowGroupFilter)
    val support = new ParquetReadSupport(
      None, // convertTz: files carry UTC-normalized annotated micros
      false,
      RebaseSpec(LegacyBehaviorPolicy.CORRECTED),
      RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
    val reader = new ParquetRecordReader[InternalRow](support)
    val (split, context) = splitAndContext(file, conf)
    reader.initialize(split, context)
    reader
  }

  /** VECTORIZED whole-file reader: Spark's own
    * `VectorizedParquetRecordReader` emitting `ColumnarBatch`es —
    * column-at-a-time page decode, the shape whole-stage codegen's
    * vectorized ColumnarToRow consumes. Partition-directory values
    * ride as CONSTANT vectors appended AFTER the file columns
    * (`initBatch`); the caller permutes to its projection order.
    * Used only on shards where rows are emitted verbatim or under a
    * caller-applied selection mask (no CLAIMED row filters, no
    * reachable equality state, no metadata columns — declined filters
    * ride as `rowGroupFilter`, statistics-only group skipping, and
    * FilterExec re-checks above the batches). */
  def openVectorizedReader(file: Path, readSchema: StructType,
                           base: Configuration,
                           partSchema: StructType,
                           partValues: InternalRow,
                           capacity: Int,
                           rowGroupFilter: Option[org.apache.parquet.filter2
                             .predicate.FilterPredicate] = None)
      : org.apache.spark.sql.execution.datasources.parquet
        .VectorizedParquetRecordReader = {
    val conf = readConf(base, readSchema, rowGroupFilter)
    val vr = new org.apache.spark.sql.execution.datasources.parquet
      .VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, capacity)
    // SpecificParquetRecordReaderBase casts to the OLD-api split
    val fs = file.getFileSystem(conf)
    val split = new org.apache.hadoop.mapred.FileSplit(
      file, 0, fs.getFileStatus(file).getLen, Array.empty[String])
    val context = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    vr.initialize(split, context)
    vr.initBatch(partSchema, partValues)
    vr.enableReturningBatches()
    vr
  }

  /** Top-level field name → parquet PRIMITIVE type name present in a
    * shard's footer (non-primitive fields map to "GROUP") — the
    * rename-alias resolution probe AND the row-group-predicate type
    * gate (a predicate typed for the DECLARED Catalyst type would fail
    * parquet's validation on a shard written before a widening ALTER,
    * e.g. longColumn over an INT32 chunk). One footer read. */
  def footerFieldTypes(file: Path, conf: Configuration)
      : Map[String, String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val fields = r.getFileMetaData.getSchema.getFields
      val out = Map.newBuilder[String, String]
      var i = 0
      while (i < fields.size()) {
        val f = fields.get(i)
        out += f.getName -> (if (f.isPrimitive)
          f.asPrimitiveType().getPrimitiveTypeName.name else "GROUP")
        i += 1
      }
      out.result()
    } finally r.close()
  }

  /** The data schema `spark.read.parquet` would infer from `file`,
    * read from its footer on the calling thread: Spark's own
    * `ParquetFileFormat.readSchemaFromFooter`, the function its
    * schema-inference job runs on each footer, over the Spark row
    * metadata the file carries. None when it carries none (a file not
    * written by Spark), where the schema would come from converting
    * the parquet types under the reader's options. */
  def sparkSchema(file: FileStatus, conf: Configuration,
                  spark: SparkSession): Option[StructType] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try r.getFooter finally r.close()
    if (!footer.getFileMetaData.getKeyValueMetaData
        .containsKey(ParquetReadSupport.SPARK_METADATA_KEY)) None
    else Some(ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** Footer row count — lets COUNT(*)-only aggregate pushdown answer
    * without decoding a single page. */
  def footerRowCount(file: Path, conf: Configuration): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getRecordCount finally r.close()
  }

  /** Footer-statistics aggregate: (row count, per requested column its
    * folded (min, max) across row groups) — None when any present
    * column lacks statistics in some non-empty group (stats disabled /
    * truncated-binary dropped), in which case the caller drains rows.
    * NUMERIC/temporal primitives only by the caller's contract: binary
    * (string) column-chunk statistics may be silently dropped or
    * truncated by writers, so they are never served as answers. A
    * column absent from the file folds to (null, null) — it reads as
    * null. Raw JVM numbers come back; the caller re-types to the
    * declared Catalyst type (a widened INT column yields Integers). */
  def footerAgg(file: Path, conf: Configuration, cols: Seq[String])
      : Option[(Long, Map[String, (Any, Any)])] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val rows = r.getRecordCount
      val blocks = r.getFooter.getBlocks
      val out = Map.newBuilder[String, (Any, Any)]
      val it = cols.iterator
      while (it.hasNext) {
        val c = it.next()
        var mn: Any = null
        var mx: Any = null
        var present = false
        var b = 0
        while (b < blocks.size()) {
          val block = blocks.get(b)
          if (block.getRowCount > 0) {
            val chunks = block.getColumns
            var i = 0
            var found: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData =
              null
            while (i < chunks.size() && found == null) {
              val ch = chunks.get(i)
              if (ch.getPath.size() == 1 && ch.getPath.toDotString == c)
                found = ch
              i += 1
            }
            if (found != null) {
              present = true
              val st = found.getStatistics
              if (st == null || st.isEmpty) return None // no stats: drain
              if (st.hasNonNullValue) {
                val (bm, bx) = (st.genericGetMin, st.genericGetMax)
                def lt(a: Any, b0: Any): Option[Boolean] = (a, b0) match {
                  case (x: Number, y: Number) =>
                    Some(if (x.isInstanceOf[java.lang.Double] ||
                        x.isInstanceOf[java.lang.Float] ||
                        y.isInstanceOf[java.lang.Double] ||
                        y.isInstanceOf[java.lang.Float])
                      x.doubleValue < y.doubleValue
                    else x.longValue < y.longValue)
                  case (x: java.lang.Boolean, y: java.lang.Boolean) =>
                    Some(!x.booleanValue && y.booleanValue)
                  case _ => None // unexpected stats type: drain
                }
                if (mn == null) mn = bm
                else lt(bm, mn) match {
                  case Some(true) => mn = bm
                  case Some(false) => ()
                  case None => return None
                }
                if (mx == null) mx = bx
                else lt(mx, bx) match {
                  case Some(true) => mx = bx
                  case Some(false) => ()
                  case None => return None
                }
              }
            }
          }
          b += 1
        }
        // an absent column reads as null — (null, null) is its honest
        // min/max; a present one answers from its folded stats
        val _ = present
        out += c -> ((mn, mx))
      }
      Some((rows, out.result()))
    } finally r.close()
  }

  /** Copy a value out of a converter-owned row: parquet's record
    * materializer reuses buffers across `nextKeyValue`, so anything
    * referenced beyond the current row must be deep-copied. */
  def copyValue(v: Any): Any = InternalRow.copyValue(v)

  val utcZone: ZoneId = java.time.ZoneOffset.UTC
}
