package graft.sources.dsv2

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STREAMING (and batch) change-data feed over a `graft-jsonl`
  * table's snapshots — Delta CDF's `readStream` shape for this
  * catalog:
  *
  * {{{
  *   spark.readStream.format("graft-jsonl-changes")
  *     .option("startVersion", 2)        // resume point; 0 = full history
  *     .load(tableDir)                   // or JsonlChangeFeed.stream(...)
  * }}}
  *
  * Each micro-batch is the MANIFEST DIFF between consecutive
  * snapshot versions (the same diff [[JsonlChangeFeed]] serves in
  * batch) — admission-controlled to ONE snapshot per micro-batch by
  * default, so a catch-up/restart replays per-commit granularity
  * rather than netting the window (`maxVersionsPerBatch` raises the
  * step for consumers that prefer netted catch-up): added
  * shards' rows (as the older manifest pinned them) as `'delete'`,
  * and merge-on-read ordinal deltas as `'delete'` rows recovered BY
  * POSITION — the reader emits only the delta ordinals, zero row
  * comparison. Offsets are snapshot ids, so `CALL snapshot` IS the
  * publish point: the stream sleeps until a new version is pinned,
  * then wakes with exactly that version's changes — checkpointed,
  * restartable, replayable from any retained version. Expired
  * manifests fail the replay LOUDLY (the offset names a version that
  * no longer exists) rather than silently skipping history.
  *
  * Batch mode reads one window: `fromVersion` (default 0 = empty) →
  * `toVersion` (default: latest snapshot).
  *
  * Schema: the table's columns plus `_change STRING` — read from the
  * table's `_graft_table.json` when present (catalog tables), else
  * the corpus default, else user-supplied. */
class JsonlChangesSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-jsonl-changes"
  override def supportsExternalMetadata(): Boolean = true

  private def tableSchemaOf(options: CaseInsensitiveStringMap): StructType = {
    val path = new Path(options.get("path"))
    val fs = path.getFileSystem(JsonlHadoopConf.fromSession().value)
    val meta = new Path(path, "_graft_table.json")
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      val bytes = try in.readAllBytes() finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(bytes, StandardCharsets.UTF_8))
      org.apache.spark.sql.types.DataType.fromJson(
        node.get("schema").asText).asInstanceOf[StructType]
    } else graft.sources.JsonlCorpus.docSchema
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType(tableSchemaOf(options).fields :+
      StructField("_change", StringType, nullable = false))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new JsonlChangesTable(schema, properties.get("path"),
      properties.asScala.toMap)
}

final class JsonlChangesTable(schema0: StructType, path: String,
                              props: Map[String, String])
    extends Table with SupportsRead {
  require(path != null,
    "graft-jsonl-changes requires a path (the table directory)")
  override def name(): String = s"graft-jsonl-changes `$path`"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new JsonlChangesScan(schema0, path,
      Option(options.get("fromVersion")).getOrElse("0"),
      Option(options.get("toVersion")),
      options.getLong("startVersion", 0L),
      options.getInt("maxVersionsPerBatch", 1))
}

final class JsonlChangesScan(schema: StructType, path: String,
                             fromVersion: String, toVersion: Option[String],
                             startVersion: Long,
                             maxVersionsPerBatch: Int = 1)
    extends Scan with Batch {
  private val conf = JsonlHadoopConf.fromSession()
  // the data columns the reader materializes come from the TABLE
  // schema; `_change` rides in as a virtual field
  private val tableSchema =
    StructType(schema.fields.filterNot(_.name == "_change"))

  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-jsonl-changes $path [v$fromVersion -> " +
      s"${toVersion.fold("live")(v => s"v$v")}]"
  override def toBatch: Batch = this

  // the batch window's endpoints are fixed at scan construction, so
  // the manifests — and the window's equality-delete context — are
  // computed once and shared by planning and the reader factory
  private lazy val window
      : (JsonlSnapshots.Manifest, JsonlSnapshots.Manifest,
         JsonlChangesScan.EqWindow) = {
    val table = new Path(path)
    val fs = table.getFileSystem(conf.value)
    // endpoints accept a numeric id OR a snapshot tag ("0" = the
    // empty pre-history manifest, so fromVersion=0 replays everything)
    def at(v: String): JsonlSnapshots.Manifest =
      if (v == "0") JsonlChangesScan.manifestAt(fs, table, 0L, tableSchema)
      else JsonlSnapshots.load(fs, table, v)
    val m1 = at(fromVersion)
    val m2 = toVersion match {
      case Some(v) => at(v)
      case None => JsonlSnapshots.list(fs, table).lastOption
        .getOrElse(JsonlSnapshots.current(fs, table, tableSchema))
    }
    require(m2.id < 0 || m1.id <= m2.id,
      s"graft-jsonl-changes: fromVersion=v${m1.id} is newer than " +
        s"toVersion=v${m2.id} — swap the endpoints (the feed is forward-only)")
    (m1, m2, JsonlChangesScan.eqWindowOf(fs, conf.value, table, m1, m2))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val table = new Path(path)
    val fs = table.getFileSystem(conf.value)
    val (m1, m2, eq) = window
    JsonlChangesScan.diffPartitions(fs, table, m1, m2, tableSchema, eq)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    JsonlChangesScan.readerFactory(schema, tableSchema, conf, window._3)

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new JsonlChangesMicroBatchStream(tableSchema, path, startVersion,
      maxVersionsPerBatch)
}

object JsonlChangesScan {
  /** Manifest of version `v`; 0 = the empty pre-history manifest. A
    * missing version throws loudly — replaying an expired snapshot
    * must never silently skip its changes. */
  def manifestAt(fs: FileSystem, table: Path, v: Long,
                 schema: StructType): JsonlSnapshots.Manifest =
    if (v == 0L)
      JsonlSnapshots.Manifest(0L, None, 0L, schema.json, Map.empty)
    else JsonlSnapshots.load(fs, table, v.toString)

  /** One window's equality-delete context: the FROM endpoint's key
    * map (what was already hidden before the window), the TO
    * endpoint's (what the window's end hides — filters added-shard
    * rows in netted windows), and the `fresh` map of keys the
    * window's NEW key files name — the emit set whose matching
    * pre-window rows are the delete records an upsert wave produces.
    * The endpoint maps obey the same byte cap as table scans
    * ([[JsonlEqDeletes.BroadcastMaxBytesKey]]): over it they stay
    * empty on the driver and `fromFiles`/`toFiles` carry the resolved
    * key file paths for executor-direct loading. `fresh` is always
    * driver-loaded — it is window-delta-sized (one wave per
    * per-version batch), and the emit-partition pruning probe and the
    * batch feed's broadcast join need its values. */
  final case class EqWindow(from: Map[String, Long],
                            to: Map[String, Long],
                            fresh: Map[String, Long],
                            cols: Seq[String],
                            fromFiles: Seq[String] = Nil,
                            toFiles: Seq[String] = Nil) {
    def isEmpty: Boolean = from.isEmpty && to.isEmpty && fresh.isEmpty &&
      fromFiles.isEmpty && toFiles.isEmpty
  }
  val EmptyEqWindow: EqWindow = EqWindow(Map.empty, Map.empty, Map.empty, Nil)

  def eqWindowOf(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
                 table: Path,
                 m1: JsonlSnapshots.Manifest,
                 m2: JsonlSnapshots.Manifest): EqWindow = {
    if (m1.eqFiles.isEmpty && m2.eqFiles.isEmpty) return EmptyEqWindow
    val cap = conf.getLong(JsonlEqDeletes.BroadcastMaxBytesKey,
      JsonlEqDeletes.DefaultBroadcastMaxBytes)
    def resolve(names: Seq[String]): Seq[Path] =
      names.map(JsonlSnapshots.resolveEq(fs, table, _))
    def load(paths: Seq[Path]): (Map[String, Long], Long, Seq[String]) =
      if (paths.isEmpty) (Map.empty, 0L, Nil)
      else JsonlEqDeletes.indexFiles(fs, paths)
    def bytes(paths: Seq[Path]): Long =
      paths.iterator.map(p => fs.getFileStatus(p).getLen).sum
    val fromP = resolve(m1.eqFiles)
    val toP = resolve(m2.eqFiles)
    val (freshM, _, colsF) =
      load(resolve(m2.eqFiles.filterNot(m1.eqFiles.toSet)))
    val overCap = bytes(fromP) > cap || bytes(toP) > cap
    if (!overCap) {
      val (fromM, _, cols1) = load(fromP)
      val (toM, _, cols2) = load(toP)
      EqWindow(fromM, toM, freshM,
        if (cols2.nonEmpty) cols2 else if (cols1.nonEmpty) cols1 else colsF)
    } else {
      // executor-direct: readers resolve the maps from the files via
      // the shared per-executor cache; cols come from the fresh load
      // or one smallest-file read
      val cols =
        if (colsF.nonEmpty) colsF
        else {
          val smallest = (fromP ++ toP)
            .minBy(p => fs.getFileStatus(p).getLen)
          JsonlEqDeletes.indexFiles(fs, Seq(smallest))._3
        }
      EqWindow(Map.empty, Map.empty, freshM, cols,
        fromP.map(_.toString), toP.map(_.toString))
    }
  }

  /** The reader factory for change windows: per-partition `eqKind`
    * picks which endpoint's equality state filters visibility, and
    * emit-mode partitions surface exactly the rows the window's new
    * waves hide. Maps ship per-executor via broadcast. */
  def readerFactory(readSchema: StructType, tableSchema: StructType,
                    conf: JsonlHadoopConf, eq: EqWindow)
      : PartitionReaderFactory = {
    def bc(m: Map[String, Long])
        : org.apache.spark.broadcast.Broadcast[Map[String, Long]] =
      if (m.isEmpty) null
      else org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(m)
    new JsonlChangesReaderFactory(readSchema, tableSchema, conf,
      bc(eq.from), bc(eq.to), bc(eq.fresh), eq.cols,
      eq.fromFiles, eq.toFiles)
  }

  /** The shard-grain diff as concrete reader work: added shards emit
    * their live rows (the TO manifest's ordinals excluded) as
    * inserts; removed shards emit the rows the FROM manifest pinned
    * as deletes; common shards with grown ordinal sets emit exactly
    * the rows AT the new ordinals as deletes; and common shards a NEW
    * equality key file outranks emit their matching still-visible
    * rows as deletes (the upsert's preimage side). The emit set is
    * pruned by the skip index — a shard whose key range excludes
    * every fresh key never opens. */
  def diffPartitions(fs: FileSystem, table: Path,
                     m1: JsonlSnapshots.Manifest,
                     m2: JsonlSnapshots.Manifest,
                     schema: StructType,
                     eq: EqWindow): Array[InputPartition] = {
    val d = JsonlChangeFeed.diff(m1, m2)
    val segAliases = JsonlTable.segmentAliasesOf(schema)
    def pvOf(rel: String): Map[String, Option[String]] =
      JsonlLayout.partValuesFromRel(rel, segAliases)
    def resolve(rel: String): String =
      fs.makeQualified(JsonlSnapshots.resolve(fs, table, rel)).toString
    val eqActive = !eq.isEmpty
    val added = d.added.toSeq.sorted.map { rel =>
      JsonlInputPartition(resolve(rel), pvOf(rel),
        deletePositions = m2.shards(rel).deletes,
        changeKind = "insert",
        eqKind = if (eqActive) "to" else null): InputPartition
    }
    val removed = d.removed.toSeq.sorted.map { rel =>
      JsonlInputPartition(resolve(rel), pvOf(rel),
        deletePositions = m1.shards(rel).deletes,
        changeKind = "delete",
        eqKind = if (eqActive) "from" else null): InputPartition
    }
    val delta = d.deltaDeletes.toSeq.sortBy(_._1).map { case (rel, ords) =>
      JsonlInputPartition(resolve(rel), pvOf(rel),
        changeKind = "delete", keepPositions = ords,
        eqKind = if (eqActive) "from" else null): InputPartition
    }
    // shrunk ordinal sets (rollback resurrected rows): emitted as
    // inserts, exactly the restored positions
    val restored = d.deltaRestores.toSeq.sortBy(_._1).map { case (rel, ords) =>
      JsonlInputPartition(resolve(rel), pvOf(rel),
        changeKind = "insert", keepPositions = ords,
        eqKind = if (eqActive) "to" else null): InputPartition
    }
    // equality-delta deletes: a common shard whose stamp a fresh key
    // file outranks may hold rows the window's waves hid. MOR-deleted
    // ordinals of EITHER endpoint are excluded (those rows are not
    // upsert preimages: pre-window deletes were never visible, and
    // in-window deletes already emit through the ordinal-delta
    // partitions above).
    val emit: Seq[InputPartition] =
      if (eq.fresh.isEmpty) Nil
      else {
        val freshMax = eq.fresh.valuesIterator.max
        val dts = eq.cols.map(c => schema(c).dataType)
        val probe = JsonlEqDeletes.rangeProbe(eq.fresh, eq.cols, dts)
        val skipIdx =
          if (probe == null) null else JsonlSkipIndex.open(fs, table, schema)
        val keyStorages: Array[String] =
          eq.cols.map(c => JsonlTable.physicalKeyOf(schema, c)).toArray
        (m1.shards.keySet & m2.shards.keySet).toSeq.sorted.flatMap { rel =>
          val stamp = JsonlEqDeletes.shardSeqOf(
            rel.substring(rel.lastIndexOf('/') + 1))
          val skippable = stamp >= freshMax ||
            (probe != null && (probe.exhausted(stamp) || {
              skipIdx.get(fs.makeQualified(new Path(table, rel)).toString)
                match {
                case Some(e) => probe.clear(stamp, i =>
                  e.stats.get(keyStorages(i)).collect {
                    case (mn, mx, _) if mn != null && mx != null => (mn, mx)
                  })
                case None => false
              }
            }))
          if (skippable) None
          else Some(JsonlInputPartition(resolve(rel), pvOf(rel),
            deletePositions = (m1.shards(rel).deletes ++
              m2.shards(rel).deletes).distinct,
            changeKind = "delete", eqKind = "emit"): InputPartition)
        }
      }
    (added ++ removed ++ delta ++ restored ++ emit).toArray
  }
}

/** Reader factory for change windows ([[JsonlChangesScan.readerFactory]]):
  * routes each partition's `eqKind` to the right endpoint map and
  * arms emit-mode for the eq-delta partitions. */
final class JsonlChangesReaderFactory(
    readSchema: StructType, tableSchema: StructType, conf: JsonlHadoopConf,
    eqFrom: org.apache.spark.broadcast.Broadcast[Map[String, Long]],
    eqTo: org.apache.spark.broadcast.Broadcast[Map[String, Long]],
    eqFresh: org.apache.spark.broadcast.Broadcast[Map[String, Long]],
    eqCols: Seq[String],
    eqFromFiles: Seq[String] = Nil,
    eqToFiles: Seq[String] = Nil) extends PartitionReaderFactory {
  private def m(b: org.apache.spark.broadcast.Broadcast[Map[String, Long]],
                files: Seq[String]): Map[String, Long] =
    if (b != null) b.value
    else if (files.nonEmpty)
      JsonlEqDeletes.ExecutorIndexCache.get(conf.value, files)._1
    else Map.empty
  override def createReader(partition: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val p = partition.asInstanceOf[JsonlInputPartition]
    val hide = p.eqKind match {
      case "from" | "emit" => m(eqFrom, eqFromFiles)
      case "to" => m(eqTo, eqToFiles)
      case _ => Map.empty[String, Long]
    }
    val emit =
      if (p.eqKind == "emit")
        (if (eqFresh == null) Map.empty[String, Long] else eqFresh.value)
      else Map.empty[String, Long]
    val ec = if (p.eqKind == null) Nil else eqCols
    new ShardRowReader(p, readSchema, tableSchema, conf, eqDeletes = hide,
      eqCols = ec, eqEmit = emit)
  }
}

object JsonlChangesMicroBatchStream {
  /** The source's default ReadLimit: per-version pacing (see
    * [[JsonlChangesMicroBatchStream.latestOffset]]). */
  case object PerVersionPacing
      extends org.apache.spark.sql.connector.read.streaming.ReadLimit
}

/** Snapshot-id offsets: offset N = "every change up to and including
  * snapshot N has been emitted". */
final case class JsonlVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

final class JsonlChangesMicroBatchStream(tableSchema: StructType,
                                         path: String, startVersion: Long,
                                         maxVersionsPerBatch: Int = 1)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadLimit}

  private val conf = JsonlHadoopConf.fromSession()

  // Trigger.AvailableNow: the terminal snapshot id captured when the
  // run starts — batches keep their per-version granularity but never
  // advance past it, and the query stops once the offset reaches it
  // (the FileStreamSource maxFilesPerTrigger + AvailableNow shape).
  // Implemented HERE so Spark does not wrap the stream in
  // AvailableNowDataStreamWrapper, which would net the whole run into
  // one batch (its latestOffset always answers the captured target).
  @volatile private var availableNowCap: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit = {
    val table = new Path(path)
    val fs = table.getFileSystem(conf.value)
    availableNowCap = JsonlSnapshots.list(fs, table).lastOption
      .fold(startVersion)(m => math.max(m.id, startVersion))
  }

  override def initialOffset(): Offset = JsonlVersionOffset(startVersion)
  override def deserializeOffset(json: String): Offset =
    JsonlVersionOffset(json.toLong)

  /** Legacy (admission-control-unaware) face: the newest snapshot.
    * Spark calls the two-argument form below when
    * SupportsAdmissionControl is present, so this stays only as the
    * honest "how far behind am I" answer. */
  override def latestOffset(): Offset = {
    val table = new Path(path)
    val fs = table.getFileSystem(conf.value)
    JsonlVersionOffset(JsonlSnapshots.list(fs, table).lastOption
      .fold(startVersion)(m => math.max(m.id, startVersion)))
  }

  /** Admission control: advance at most `maxVersionsPerBatch` PINNED
    * snapshots past `start` (default 1) — a catch-up or restart
    * replays history one micro-batch PER SNAPSHOT, per-commit CDF
    * granularity, instead of netting the whole window into one diff
    * (where a shard added and removed inside the window would emit
    * nothing). An EXPLICIT ReadAllAvailable limit (how the engine asks
    * for "everything", e.g. capturing an AvailableNow target) nets to
    * the newest snapshot instead. Snapshot ids advance along the
    * RETAINED manifest list, so ids expired by `expire_snapshots` net
    * into the first surviving window — the same "can't replay expired
    * history" posture as any CDF; an offset naming an expired id
    * still fails loudly at plan time
    * ([[JsonlChangesScan.manifestAt]]). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[JsonlVersionOffset].v
    val table = new Path(path)
    val fs = table.getFileSystem(conf.value)
    val ahead0 = JsonlSnapshots.list(fs, table).iterator
      .map(_.id).filter(_ > s).toSeq
    val ahead =
      if (availableNowCap >= 0) ahead0.filter(_ <= availableNowCap)
      else ahead0
    val next = limit match {
      case _: ReadAllAvailable => ahead.lastOption
      case _ => ahead.take(math.max(1, maxVersionsPerBatch)).lastOption
    }
    JsonlVersionOffset(next.getOrElse(s))
  }

  /** A marker limit meaning "this source's own pacing" — deliberately
    * NOT ReadAllAvailable, which would net every trigger. */
  override def getDefaultReadLimit: ReadLimit =
    JsonlChangesMicroBatchStream.PerVersionPacing
  override def reportLatestOffset(): Offset = latestOffset()

  // the equality context of the batch JUST planned: createReaderFactory
  // is called after planInputPartitions for each micro-batch (same
  // contract the listing cache in JsonlMicroBatchStream relies on)
  @volatile private var lastEq: JsonlChangesScan.EqWindow =
    JsonlChangesScan.EmptyEqWindow

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[JsonlVersionOffset].v
    val e = end.asInstanceOf[JsonlVersionOffset].v
    if (e <= s) return Array.empty
    val table = new Path(path)
    val fs = table.getFileSystem(conf.value)
    val m1 = JsonlChangesScan.manifestAt(fs, table, s, tableSchema)
    val m2 = JsonlChangesScan.manifestAt(fs, table, e, tableSchema)
    val eq = JsonlChangesScan.eqWindowOf(fs, conf.value, table, m1, m2)
    lastEq = eq
    JsonlChangesScan.diffPartitions(fs, table, m1, m2, tableSchema, eq)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    JsonlChangesScan.readerFactory(
      StructType(tableSchema.fields :+
        StructField("_change", StringType, nullable = false)),
      tableSchema, conf, lastEq)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
