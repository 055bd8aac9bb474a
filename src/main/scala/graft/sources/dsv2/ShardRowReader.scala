package graft.sources.dsv2

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One shard as a [[PartitionReader]], whatever its at-rest format —
  * the emission protocol every row read of the connector shares (plain
  * and aggregate scans, change-feed windows, compaction's rows-mode
  * rewrite), over a per-format [[ShardRows]] source. Per physical row,
  * in file order:
  *   - its ordinal (JSONL line number, parquet whole-file row number:
  *     the `_pos` value position deletes are keyed by) is dropped when
  *     a delete ordinal names it or a keep set omits it — before the
  *     row is parsed;
  *   - pushed filters evaluate over declared-type values (three-valued,
  *     collapsed: null never matches), then the equality-delete key
  *     hides the row (or, in emit mode, surfaces only hidden rows);
  *   - the required columns materialize; partition-directory values,
  *   `_shard` and `_change` are per-shard constants, `_pos` the ordinal;
  *   - a pushed LIMIT stops the shard after `limit` emitted rows.
  * Every file value a filter, key or output sees comes from
  * [[ShardRows.value]], decoded at most once per row and only when
  * asked for: a row a filter rejects pays for its filter columns only,
  * and a value failing the declared-type check is SQL null for the
  * filter and the output alike. Column names resolve to slots once per
  * reader, never per row. */
final class ShardRowReader(p: JsonlInputPartition, required: StructType,
                           dataSchema: StructType, conf: JsonlHadoopConf,
                           pushed: Array[Filter] = Array.empty,
                           limit: Int = -1,
                           eqDeletes: Map[String, Long] = Map.empty,
                           eqCols: Seq[String] = Nil,
                           // change-feed eq-delta recovery: emit ONLY
                           // the rows a window's new waves hide (named
                           // by a key whose sequence outranks this
                           // shard's stamp, visible per `eqDeletes`)
                           eqEmit: Map[String, Long] = Map.empty,
                           // DECLINED filters: parquet row-group
                           // skipping only, never row-evaluated
                           prune: Array[Filter] = Array.empty)
    extends PartitionReader[InternalRow] {
  import ShardRowReader._

  private val zone = sessionZone(conf)
  private def declaredType(n: String): DataType =
    dataSchema.fields.find(_.name == n).map(_.dataType).getOrElse(StringType)

  // ---- column refs: >= 0 a file slot, PosRef the ordinal, below it a
  // per-shard constant (partition value, `_shard`, `_change`)
  private val fileCols = mutable.ArrayBuffer.empty[StructField]
  private val consts = mutable.ArrayBuffer.empty[Any]
  private val refs = mutable.HashMap.empty[String, Int]
  private def const(v: Any): Int = { consts += v; PosRef - consts.length }
  private def ref(name: String): Int = refs.getOrElseUpdate(name, name match {
    case "_pos" => PosRef
    case "_shard" => const(UTF8String.fromString(p.file))
    case "_change" => const(Option(p.changeKind).map(UTF8String.fromString).orNull)
    case n if p.partValues.contains(n) =>
      const(partConst(p.partValues(n), declaredType(n), zone))
    case n => dataSchema.fields.find(_.name == n) match {
      case Some(f) =>
        // a projected column reads at its required type: Spark may
        // have pruned nested struct fields out of it
        fileCols += required.find(_.name == n).fold(f)(r => f.copy(dataType = r.dataType))
        fileCols.length - 1
      case None => const(null)
    }
  })
  private val outRefs: Array[Int] = required.fieldNames.map(ref)
  private val filterRefs: Array[Int] =
    pushed.map(f => ParquetRowGroupFilter.attrOf(f).fold(PosRef)(ref))

  // ---- equality-delete tier ([[JsonlEqDeletes]]): a key tuple named by
  // a delete with sequence > this shard's name stamp is hidden. Inert
  // unless pending deletes can reach this shard (or emit mode is on).
  private val eqShardSeq = JsonlEqDeletes.shardSeqOf(new Path(p.file).getName)
  private val eqHiding = eqCols.nonEmpty && eqDeletes.nonEmpty &&
    eqDeletes.valuesIterator.max > eqShardSeq
  private val eqEmitting = eqCols.nonEmpty && eqEmit.nonEmpty
  private val eqRefs: Array[Int] =
    if (eqHiding || eqEmitting) eqCols.map(ref).toArray else Array.empty
  private val eqSchema = StructType(eqCols.map(c => StructField(c, declaredType(c))))
  private val eqIdx = eqSchema.indices
  private val eqRow = new GenericInternalRow(eqRefs.length)

  private val deleted = deletedSet(conf, p)
  private val kept = positionSet(p.keepPositions, "keep", p.file)

  // row-group skipping shifts ordinals, so it arms only when none is
  // live: no delete/keep ordinals, no change kind, no `_pos` output
  private val groupFilters: Seq[Filter] =
    if (deleted != null || kept != null || p.changeKind != null ||
        outRefs.contains(PosRef)) Nil
    else (pushed ++ prune).toSeq.distinct

  private val src: ShardRows =
    if (GraftParquetShard.isParquetName(p.file))
      new ParquetRows(p.file, fileCols.toSeq, conf, groupFilters,
        p.partValues.contains, dataSchema)
    else new JsonlRows(p.file, fileCols.toSeq, conf, zone)

  private val vals = new Array[Any](fileCols.length)
  private val decodedAt = Array.fill(fileCols.length)(-1L)
  private var pos = -1L
  private var emitted = 0L
  private var out: InternalRow = _

  private def col(r: Int): Any =
    if (r >= 0) {
      if (decodedAt(r) != pos) { vals(r) = src.value(r); decodedAt(r) = pos }
      vals(r)
    } else if (r == PosRef) java.lang.Long.valueOf(pos)
    else consts(PosRef - 1 - r)

  private def matches(f: Filter, r: Int): Boolean = f match {
    case EqualTo(_, v) => compare(col(r), v).contains(0)
    case In(_, vs) => val x = col(r); vs.exists(v => compare(x, v).contains(0))
    case IsNull(_) => col(r) == null
    case IsNotNull(_) => col(r) != null
    case GreaterThan(_, v) => compare(col(r), v).exists(_ > 0)
    case GreaterThanOrEqual(_, v) => compare(col(r), v).exists(_ >= 0)
    case LessThan(_, v) => compare(col(r), v).exists(_ < 0)
    case LessThanOrEqual(_, v) => compare(col(r), v).exists(_ <= 0)
    case _ => true // unsupported shapes were returned as residual
  }
  private def passes(): Boolean = {
    var i = 0
    while (i < pushed.length) {
      if (!matches(pushed(i), filterRefs(i))) return false
      i += 1
    }
    true
  }

  // the key renders through the writer's own renderer over declared-
  // type values — byte-identical to the published keys
  private def eqHidden(): Boolean = eqRefs.nonEmpty && {
    var i = 0
    while (i < eqRefs.length) { eqRow.update(i, col(eqRefs(i))); i += 1 }
    val key = JsonlEqDeletes.renderRow(eqRow, eqSchema, eqIdx,
      refuseControl = false)
    (eqHiding && eqDeletes.get(key).exists(_ > eqShardSeq)) ||
      (eqEmitting && !eqEmit.get(key).exists(_ > eqShardSeq))
  }

  private def materialize(): InternalRow = {
    val r = new GenericInternalRow(outRefs.length)
    var i = 0
    while (i < outRefs.length) {
      val ref = outRefs(i)
      r.update(i, if (ref >= 0) src.own(col(ref)) else col(ref))
      i += 1
    }
    r
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (src.next()) {
      pos += 1
      if (!dropped(pos, deleted, kept) && src.parse() && passes() &&
          !eqHidden()) {
        out = materialize()
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = out
  override def close(): Unit = src.close()
}

object ShardRowReader {
  private val PosRef = -1

  /** Metadata columns every shard read can project. */
  val MetadataColumns: Set[String] = Set("_pos", "_shard", "_change")

  /** The session time zone the driver stamped into `conf` (the JVM
    * zone when unset, as in SQLConf): textual zoned timestamps decode
    * exactly as Spark's own string→timestamp cast reads them. */
  def sessionZone(conf: JsonlHadoopConf): java.time.ZoneId =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
      conf.value.get("spark.sql.session.timeZone",
        java.time.ZoneId.systemDefault().getId))

  /** A partition-directory value as the Catalyst value of its declared
    * type: None (the `__HIVE_DEFAULT_PARTITION__` dir) and text that
    * does not parse as `dt` (a hand-made `p=abc` under a BIGINT column)
    * are SQL null — the mismatch-reads-as-null rule of [[JsonlJson]]. */
  def partConst(v: Option[String], dt: DataType, zone: java.time.ZoneId): Any =
    v match {
      case None => null
      case Some(s) => try dt match {
        case LongType => java.lang.Long.valueOf(s.toLong)
        case IntegerType => java.lang.Integer.valueOf(s.toInt)
        case DoubleType => java.lang.Double.valueOf(s.toDouble)
        case BooleanType => java.lang.Boolean.valueOf(s.toBoolean)
        case StringType => UTF8String.fromString(s)
        case other => JsonlJson.decode(
          com.fasterxml.jackson.databind.node.TextNode.valueOf(s), other, zone)
      } catch { case _: IllegalArgumentException => null }
    }

  /** Ordinals as a bitset (null for null). An ordinal outside int
    * range would wrap in `toInt` and set a wrong bit — refused loudly,
    * as [[JsonlDeletes.readBitSet]] does. */
  def positionSet(positions: Array[Long], what: String,
                  file: String): java.util.BitSet =
    if (positions == null) null
    else {
      val bs = new java.util.BitSet()
      positions.foreach { pos =>
        require(pos >= 0 && pos <= Int.MaxValue,
          s"$what ordinal $pos out of int range for $file")
        bs.set(pos.toInt)
      }
      bs
    }

  /** The partition's deleted ordinals: pinned at snapshot time when
    * embedded (the live sidecar may have grown since), else the live
    * sidecar's; null when neither exists. */
  def deletedSet(conf: JsonlHadoopConf, p: JsonlInputPartition): java.util.BitSet =
    if (p.deletePositions != null) positionSet(p.deletePositions, "delete", p.file)
    else if (p.deletes == null) null
    else JsonlDeletes.readBitSet(conf, p.deletes)

  /** The one drop rule: deleted, or outside a keep set. */
  def dropped(pos: Long, deleted: java.util.BitSet, kept: java.util.BitSet): Boolean =
    (deleted != null && pos <= Int.MaxValue && deleted.get(pos.toInt)) ||
      (kept != null && (pos > Int.MaxValue || !kept.get(pos.toInt)))

  /** Declared-type value `v` against a pushed literal: the sign of
    * `v - lit`, None when either side is null or the pair does not
    * compare. Integral pairs compare exactly as longs, a fractional
    * side as doubles; strings in UTF8 byte order — Spark's (and
    * DuckDB's) order, not UTF-16 `String.compareTo`. */
  def compare(v: Any, lit: Any): Option[Int] = (v, lit) match {
    case (null, _) | (_, null) => None
    case (s: UTF8String, t: String) => Some(s.compareTo(UTF8String.fromString(t)))
    case (b: java.lang.Boolean, t: java.lang.Boolean) =>
      Some(java.lang.Boolean.compare(b, t))
    case (a: Number, n: Number) =>
      if (integral(a) && integral(n)) Some(java.lang.Long.compare(a.longValue, n.longValue))
      else Some(java.lang.Double.compare(a.doubleValue, n.doubleValue))
    case _ => None
  }
  private def integral(n: Number): Boolean = n.isInstanceOf[java.lang.Long] ||
    n.isInstanceOf[java.lang.Integer] || n.isInstanceOf[java.lang.Short]

  /** A scan's equality state for one partition: none when the planner
    * exempted it, else the broadcast map — or, past the broadcast cap,
    * the executor-built index over the key files
    * ([[JsonlEqDeletes.ExecutorIndexCache]]). */
  def eqState(conf: JsonlHadoopConf, p: JsonlInputPartition,
              bc: org.apache.spark.broadcast.Broadcast[Map[String, Long]],
              cols: Seq[String], files: Seq[String]): (Map[String, Long], Seq[String]) =
    if (p.eqExempt) (Map.empty, Nil)
    else if (files.nonEmpty) {
      val (m, _, fileCols) = JsonlEqDeletes.ExecutorIndexCache.get(conf.value, files)
      (m, fileCols)
    } else (if (bc == null) Map.empty else bc.value, cols)
}

/** A shard's physical rows in file order — the per-format half of
  * [[ShardRowReader]]. Slot `c` is the reader's `c`-th file column. */
private[dsv2] trait ShardRows {
  /** Step to the next physical row (one ordinal); false past the end. */
  def next(): Boolean
  /** Parse the current row; false when it holds no record. */
  def parse(): Boolean
  /** Slot `c` of the current row as its declared Catalyst type; null
    * when missing, null or mistyped. */
  def value(c: Int): Any
  /** `v` made safe to outlive the current row. */
  def own(v: Any): Any
  def close(): Unit
}

/** Gzip (or plain) JSON lines, each parsed once with Jackson; blank and
  * malformed lines hold no record (the clean-path scan skips them, the
  * ordinal still counts). A column reads its physical key — a re-added
  * column's fresh key, so a dropped column's old values stay invisible
  * — then, for a renamed column, its former keys newest first (the new
  * key wins when a line carries both). */
private[dsv2] final class JsonlRows(file: String, cols: Seq[StructField],
                                    conf: JsonlHadoopConf,
                                    zone: java.time.ZoneId) extends ShardRows {
  private val keys = cols.map(JsonlTable.physicalKeyOf).toArray
  private val aliases = cols.map(JsonlTable.aliasesOf).toArray
  private val types = cols.map(_.dataType).toArray
  private val mapper = new ObjectMapper()
  private val in: BufferedReader = {
    val path = new Path(file)
    val raw = path.getFileSystem(conf.value).open(path)
    val stream = if (file.endsWith(".gz")) new GZIPInputStream(raw) else raw
    new BufferedReader(new InputStreamReader(stream, StandardCharsets.UTF_8))
  }
  private var line: String = _
  private var node: JsonNode = _

  override def next(): Boolean = { line = in.readLine(); line != null }
  override def parse(): Boolean = line.nonEmpty && {
    node = try mapper.readTree(line) catch { case _: Exception => null }
    node != null && node.isObject
  }
  override def value(c: Int): Any = {
    var v = node.get(keys(c))
    if (v == null && aliases(c).nonEmpty)
      v = aliases(c).iterator.map(node.get).find(_ != null).orNull
    JsonlJson.decode(v, types(c), zone)
  }
  override def own(v: Any): Any = v
  override def close(): Unit = in.close()
}
