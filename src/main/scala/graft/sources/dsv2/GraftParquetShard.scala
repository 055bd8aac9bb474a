package graft.sources.dsv2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.graftbridge.ParquetShardIO
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Columnar at-rest shard tier: `graft.format = 'parquet'` tables
  * store their shards as zstd parquet files instead of gzip line-JSON,
  * sharing EVERY layer of the connector's metadata unchanged — the
  * `_graft_table.json` spec, hive `k=v` dirs, `_skip` manifests,
  * `_snapshots` pins/CDC, `_eq_deletes` upsert waves, `_deletes`
  * position sidecars, and the staged-rename commit protocol are all
  * keyed by shard PATHS and row ORDINALS, never by bytes. Row reads of
  * both tiers go through one [[ShardRowReader]], which picks the
  * format's row source PER FILE on the extension ([[ParquetRows]] here,
  * with [[ParquetFooter]]'s alias resolution and row-group skipping),
  * so a table converted mid-life (ALTER ... SET
  * TBLPROPERTIES('graft.format'='parquet') + compact) reads correctly
  * while both populations coexist; filter-free scans of all-parquet
  * partition sets decode column-at-a-time instead
  * ([[ParquetVectorizedShardReader]]).
  *
  * Scale note: this is the 100 TB posture for numeric-heavy tables —
  * real columnar pruning (nested included), no per-row JSON parse, no
  * gzip-member decompression on pruned columns — while the JSONL tier
  * remains the append-friendly, human-debuggable default.
  */
object GraftParquetShard {
  val Suffix = ".parquet"

  /** Table-property value check: the format names the WRITE side only
    * (reads always dispatch per file). */
  def isParquetName(name: String): Boolean = name.endsWith(Suffix)

  /** Physical (storage-key-named) view of `schema` at `indices` — the
    * columns a shard file actually stores. */
  def fileSchema(schema: StructType, indices: Seq[Int]): StructType =
    StructType(indices.map { i =>
      val f = schema.fields(i)
      StructField(JsonlTable.physicalKeyOf(f), f.dataType, nullable = true)
    })
}

/** Filter → parquet row-group predicate translation, shared by the row
  * and the vectorized shard readers. Statistics-only (dictionary pages
  * included): whole row groups whose footer stats prove the predicate
  * can't match are skipped before any data page decodes; record-level
  * assembly filtering stays OFF, so surviving groups emit every row and
  * the engine-side filter (pushed evaluation on the row path, FilterExec
  * above batches on the vectorized path) stays the single source of
  * row-level truth. Conservative by construction: a shape, type, or
  * column the translator can't prove skippable simply doesn't
  * translate. */
object ParquetRowGroupFilter {
  import org.apache.parquet.filter2.predicate.FilterPredicate

  def attrOf(f: Filter): Option[String] = f match {
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

  /** Conjoin every translatable filter; None when nothing translates.
    * `injected` names columns not stored in the file (partition dirs,
    * metadata); `resolvedName` maps a declared field to the name the
    * footer actually carries (rename aliases); `footerType` is the
    * file's primitive type by name — the predicate is typed for the
    * DECLARED Catalyst type, and parquet's validation would reject it
    * on a shard written before a widening ALTER, so translation
    * requires an exact primitive match. */
  def build(filters: Seq[Filter], injected: String => Boolean,
            dataSchema: StructType, resolvedName: StructField => String,
            footerType: String => Option[String]): Option[FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    def pred(f: Filter): Option[FilterPredicate] = {
      val a = attrOf(f).getOrElse(return None)
      if (injected(a)) return None // injected, not in file
      val fl = dataSchema.fields.find(_.name == a).getOrElse(return None)
      val name = resolvedName(fl)
      val want = fl.dataType match {
        case LongType => "INT64"
        case IntegerType => "INT32"
        case DoubleType => "DOUBLE"
        case StringType => "BINARY"
        case BooleanType => "BOOLEAN"
        case _ => return None
      }
      if (!footerType(name).contains(want)) return None
      def whenNonNull[T](v: Any)(mk: Any => T): Option[T] =
        if (v == null) None else Some(mk(v)) // SQL: null never matches
      fl.dataType match {
        case LongType =>
          val c = FilterApi.longColumn(name)
          def l(v: Any) = java.lang.Long.valueOf(
            v.asInstanceOf[Number].longValue)
          f match {
            case EqualTo(_, v) => whenNonNull(v)(x => FilterApi.eq(c, l(x)))
            case In(_, vs) if vs.length <= 16 =>
              vs.flatMap(v => whenNonNull(v)(x => FilterApi.eq(c, l(x))
                : FilterPredicate)).reduceOption(FilterApi.or)
            case GreaterThan(_, v) => whenNonNull(v)(x => FilterApi.gt(c, l(x)))
            case GreaterThanOrEqual(_, v) =>
              whenNonNull(v)(x => FilterApi.gtEq(c, l(x)))
            case LessThan(_, v) => whenNonNull(v)(x => FilterApi.lt(c, l(x)))
            case LessThanOrEqual(_, v) =>
              whenNonNull(v)(x => FilterApi.ltEq(c, l(x)))
            case IsNull(_) => Some(FilterApi.eq(c, null.asInstanceOf[java.lang.Long]))
            case IsNotNull(_) => Some(FilterApi.notEq(c, null.asInstanceOf[java.lang.Long]))
            case _ => None
          }
        case IntegerType =>
          val c = FilterApi.intColumn(name)
          def i(v: Any) = java.lang.Integer.valueOf(
            v.asInstanceOf[Number].intValue)
          f match {
            case EqualTo(_, v) => whenNonNull(v)(x => FilterApi.eq(c, i(x)))
            case In(_, vs) if vs.length <= 16 =>
              vs.flatMap(v => whenNonNull(v)(x => FilterApi.eq(c, i(x))
                : FilterPredicate)).reduceOption(FilterApi.or)
            case GreaterThan(_, v) => whenNonNull(v)(x => FilterApi.gt(c, i(x)))
            case GreaterThanOrEqual(_, v) =>
              whenNonNull(v)(x => FilterApi.gtEq(c, i(x)))
            case LessThan(_, v) => whenNonNull(v)(x => FilterApi.lt(c, i(x)))
            case LessThanOrEqual(_, v) =>
              whenNonNull(v)(x => FilterApi.ltEq(c, i(x)))
            case IsNull(_) => Some(FilterApi.eq(c, null.asInstanceOf[java.lang.Integer]))
            case IsNotNull(_) => Some(FilterApi.notEq(c, null.asInstanceOf[java.lang.Integer]))
            case _ => None
          }
        case DoubleType =>
          val c = FilterApi.doubleColumn(name)
          def d(v: Any) = java.lang.Double.valueOf(
            v.asInstanceOf[Number].doubleValue)
          f match {
            case EqualTo(_, v) => whenNonNull(v)(x => FilterApi.eq(c, d(x)))
            case GreaterThan(_, v) => whenNonNull(v)(x => FilterApi.gt(c, d(x)))
            case GreaterThanOrEqual(_, v) =>
              whenNonNull(v)(x => FilterApi.gtEq(c, d(x)))
            case LessThan(_, v) => whenNonNull(v)(x => FilterApi.lt(c, d(x)))
            case LessThanOrEqual(_, v) =>
              whenNonNull(v)(x => FilterApi.ltEq(c, d(x)))
            case IsNull(_) => Some(FilterApi.eq(c, null.asInstanceOf[java.lang.Double]))
            case IsNotNull(_) => Some(FilterApi.notEq(c, null.asInstanceOf[java.lang.Double]))
            case _ => None
          }
        case StringType =>
          val c = FilterApi.binaryColumn(name)
          def b(v: Any) = Binary.fromString(v.asInstanceOf[String])
          f match {
            case EqualTo(_, v) => whenNonNull(v)(x => FilterApi.eq(c, b(x)))
            case In(_, vs) if vs.length <= 16 =>
              vs.flatMap(v => whenNonNull(v)(x => FilterApi.eq(c, b(x))
                : FilterPredicate)).reduceOption(FilterApi.or)
            case GreaterThan(_, v) => whenNonNull(v)(x => FilterApi.gt(c, b(x)))
            case GreaterThanOrEqual(_, v) =>
              whenNonNull(v)(x => FilterApi.gtEq(c, b(x)))
            case LessThan(_, v) => whenNonNull(v)(x => FilterApi.lt(c, b(x)))
            case LessThanOrEqual(_, v) =>
              whenNonNull(v)(x => FilterApi.ltEq(c, b(x)))
            case IsNull(_) => Some(FilterApi.eq(c, null.asInstanceOf[Binary]))
            case IsNotNull(_) => Some(FilterApi.notEq(c, null.asInstanceOf[Binary]))
            case _ => None
          }
        case BooleanType =>
          val c = FilterApi.booleanColumn(name)
          f match {
            case EqualTo(_, v) => whenNonNull(v)(x => FilterApi.eq(c,
              java.lang.Boolean.valueOf(x.asInstanceOf[java.lang.Boolean])))
            case IsNull(_) => Some(FilterApi.eq(c, null.asInstanceOf[java.lang.Boolean]))
            case IsNotNull(_) => Some(FilterApi.notEq(c, null.asInstanceOf[java.lang.Boolean]))
            case _ => None
          }
        case _ => None
      }
    }
    try filters.flatMap(pred(_)).reduceOption(FilterApi.and)
    catch { case scala.util.control.NonFatal(_) => None }
  }
}

/** Shared surviving-ordinal mask for one batch: `map(0 until n)` are
  * the batch-relative row ids that survive the position-delete / keep
  * bitsets. One holder per reader, referenced by every
  * [[MaskedColumnVector]] wrapping that reader's vectors, refilled in
  * place per batch (the array is allocated once at batch capacity). */
final class GraftColumnMask(capacity: Int) {
  val map: Array[Int] = new Array[Int](capacity)
  var n: Int = 0
}

/** Read-only [[ColumnVector]] view remapping row ids through a shared
  * [[GraftColumnMask]] — how position deletes (and CDC keep sets) apply
  * on the VECTORIZED path: instead of disarming columnar reads, the
  * batch keeps its decoded vectors and deleted ordinals are simply
  * absent from the mask (the Iceberg/Delta deletion-vector pattern).
  * Struct children share the parent's mask; array/map reads delegate
  * whole (element storage is flat — offsets inside the base vector stay
  * absolute). `numNulls`/`hasNull` are conservative upper bounds from
  * the base vector, which is safe for every consumer (they specialize
  * the null path, never assume non-null from a zero). */
final class MaskedColumnVector(base: org.apache.spark.sql.vectorized.ColumnVector,
                               mask: GraftColumnMask)
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType) {
  import org.apache.spark.sql.vectorized.ColumnVector
  override def close(): Unit = () // base is owned by the parquet reader
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = base.numNulls
  override def isNullAt(i: Int): Boolean = base.isNullAt(mask.map(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(mask.map(i))
  override def getByte(i: Int): Byte = base.getByte(mask.map(i))
  override def getShort(i: Int): Short = base.getShort(mask.map(i))
  override def getInt(i: Int): Int = base.getInt(mask.map(i))
  override def getLong(i: Int): Long = base.getLong(mask.map(i))
  override def getFloat(i: Int): Float = base.getFloat(mask.map(i))
  override def getDouble(i: Int): Double = base.getDouble(mask.map(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(mask.map(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(mask.map(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    base.getDecimal(mask.map(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String =
    base.getUTF8String(mask.map(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(mask.map(i))
  private lazy val kids = new java.util.concurrent.ConcurrentHashMap[
    Integer, ColumnVector]()
  override def getChild(ordinal: Int): ColumnVector =
    kids.computeIfAbsent(ordinal,
      o => new MaskedColumnVector(base.getChild(o), mask))
}

/** Footer view of one parquet shard: where each declared field is
  * stored, and the row-group predicate for a filter set. The footer is
  * read at most once, and only when a renamed field or a row-group
  * predicate asks for it. */
final class ParquetFooter(file: String, conf: JsonlHadoopConf) {
  lazy val types: Map[String, String] =
    ParquetShardIO.footerFieldTypes(new Path(file), conf.value)

  /** The name the shard stores `f` under: its physical key or, on a
    * shard written before a rename, the newest former name the footer
    * carries. */
  def nameOf(f: StructField): String = {
    val phys = JsonlTable.physicalKeyOf(f)
    val aliases = JsonlTable.aliasesOf(f)
    if (aliases.isEmpty || types.contains(phys)) phys
    else aliases.find(types.contains).getOrElse(phys)
  }

  def readSchema(fields: Seq[StructField]): StructType =
    StructType(fields.map(f => StructField(nameOf(f), f.dataType, nullable = true)))

  /** Statistics-only predicate over `filters` ([[ParquetRowGroupFilter]]);
    * `injected` names columns the file does not store. */
  def rowGroupFilter(filters: Seq[Filter], injected: String => Boolean,
                     dataSchema: StructType)
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] =
    if (filters.isEmpty) None
    else ParquetRowGroupFilter.build(filters, injected, dataSchema, nameOf, types.get)
}

/** Parquet rows from Spark's own record reader, with the footer's
  * rename-alias resolution and statistics-only skipping of row groups
  * `groupFilters` rule out. Values come out of the converter's reused
  * buffer, so kept ones are deep-copied. */
private[dsv2] final class ParquetRows(file: String, cols: Seq[StructField],
                                      conf: JsonlHadoopConf,
                                      groupFilters: Seq[Filter],
                                      injected: String => Boolean,
                                      dataSchema: StructType)
    extends ShardRows {
  private val footer = new ParquetFooter(file, conf)
  private val readSchema = footer.readSchema(cols)
  private val types = readSchema.fields.map(_.dataType)
  private val reader = ParquetShardIO.openReader(new Path(file), readSchema,
    conf.value, footer.rowGroupFilter(groupFilters, injected, dataSchema))
  private var row: InternalRow = _

  override def next(): Boolean =
    reader.nextKeyValue() && { row = reader.getCurrentValue; true }
  override def parse(): Boolean = true
  override def value(c: Int): Any = if (row.isNullAt(c)) null else row.get(c, types(c))
  override def own(v: Any): Any = v match {
    case b: Array[Byte] => b.clone()
    case other => ParquetShardIO.copyValue(other)
  }
  override def close(): Unit = reader.close()
}

/** VECTORIZED parquet shard scan: [[org.apache.spark.sql.vectorized.ColumnarBatch]]es
  * straight from Spark's own vectorized column readers — the default
  * for parquet partitions emitting rows verbatim-or-masked (no claimed
  * row filters, no reachable equality state, no metadata columns),
  * which covers the full-scan / aggregate shape that dominates at
  * 100 TB AND — since round 16 — both of the shapes that used to
  * disarm it:
  *
  *  - FILTERED scans: parquet-format tables DECLINE row-filter
  *    pushdown ([[JsonlScanBuilder.pushFilters]]), so FilterExec runs
  *    above the batch stream while the same predicates arrive here as
  *    `prune` and skip whole row groups via footer statistics
  *    ([[ParquetRowGroupFilter]]) — pruning without row
  *    materialization.
  *  - MUTATED shards: position-delete sidecars / pinned ordinals /
  *    CDC keep sets apply as a per-batch SELECTION MASK
  *    ([[MaskedColumnVector]]) instead of falling back to the row
  *    reader — per-row-group offset bookkeeping is unnecessary because
  *    masking disables group skipping, keeping batch ordinals exactly
  *    file-sequential (the `_pos` contract the sidecars are keyed by).
  *
  * Partition-directory values ride as constant vectors; the batch view
  * is permuted once to the projection's column order (the underlying
  * reader appends partition columns last). Anything still conditional
  * (equality-delete hiding, `_pos`/`_shard`/`_change` projections,
  * pushed LIMIT) takes [[ShardRowReader]]'s row path instead. Partition
  * constants, position sets and the drop rule are that reader's. */
final class ParquetVectorizedShardReader(p: JsonlInputPartition,
                                         required: StructType,
                                         dataSchema: StructType,
                                         conf: JsonlHadoopConf,
                                         prune: Array[Filter] = Array.empty)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
  import ShardRowReader.{deletedSet, dropped, partConst, positionSet}

  private val fileFields: Seq[StructField] =
    required.fields.toSeq.filterNot(f => p.partValues.contains(f.name))
  private val partFields: Seq[StructField] =
    required.fields.toSeq.filter(f => p.partValues.contains(f.name))

  // position-delete / keep-set mask state (merge-on-read, snapshot-
  // pinned ordinals, CDC keep pieces)
  private val deleted = deletedSet(conf, p)
  private val kept = positionSet(p.keepPositions, "keep", p.file)
  private val masking: Boolean = deleted != null || kept != null

  // row-group pruning from the DECLINED filters: footer statistics skip
  // whole groups before any page decodes. Group skipping shifts batch
  // ordinals, so it arms only when NOT masking (masks are keyed by
  // file-sequential ordinals); `_pos` projections never reach this
  // reader (they disarm vectorization at the scan).
  private val footer = new ParquetFooter(p.file, conf)
  private val rowGroupFilter =
    footer.rowGroupFilter(if (masking) Nil else prune.toSeq,
      p.partValues.contains, dataSchema)

  private val partRow: InternalRow = {
    val zone = ShardRowReader.sessionZone(conf)
    new GenericInternalRow(partFields.map(f =>
      partConst(p.partValues(f.name), f.dataType, zone)).toArray[Any])
  }

  private val Capacity = 4096
  private val reader = ParquetShardIO.openVectorizedReader(
    new Path(p.file), footer.readSchema(fileFields), conf.value,
    StructType(partFields), partRow, Capacity, rowGroupFilter)

  // the underlying batch lays out file columns then partition columns;
  // permute ONCE into the projection's order (vectors are stable
  // across batches — the reader reuses them). When masking, each
  // permuted vector is additionally wrapped in a MaskedColumnVector
  // sharing ONE mask holder, refilled in place per batch.
  private val mask: GraftColumnMask = if (masking) new GraftColumnMask(Capacity) else null
  private var view: ColumnarBatch = _
  private def buildView(b: ColumnarBatch): ColumnarBatch = {
    val byName = fileFields.map(_.name).zipWithIndex.toMap
    val partByName = partFields.map(_.name).zipWithIndex.toMap
    val cols: Array[ColumnVector] = required.fields.map { f =>
      val base = byName.get(f.name) match {
        case Some(i) => b.column(i)
        case None => b.column(fileFields.length + partByName(f.name))
      }
      if (masking) new MaskedColumnVector(base, mask) else base
    }
    new ColumnarBatch(cols)
  }

  private var posBase: Long = 0L // file ordinal of the current batch's first row

  override def next(): Boolean = {
    val has = reader.nextKeyValue()
    if (has) {
      val b = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      if (view == null) view = buildView(b)
      val n = b.numRows()
      if (!masking) view.setNumRows(n)
      else {
        // surviving batch-relative ordinals under the delete/keep bitsets
        var m = 0
        var i = 0
        while (i < n) {
          if (!dropped(posBase + i, deleted, kept)) { mask.map(m) = i; m += 1 }
          i += 1
        }
        posBase += n
        mask.n = m
        view.setNumRows(m)
      }
    }
    has
  }
  override def get(): ColumnarBatch = view
  override def close(): Unit = reader.close()
}
