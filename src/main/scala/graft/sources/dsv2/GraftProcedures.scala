package graft.sources.dsv2

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Maintenance procedures for [[GraftCatalog]] tables — the
  * `CALL wh.system.<proc>(...)` surface (Spark 4 ProcedureCatalog):
  *
  *   - `table_stats(table)`: per-partition shard count + bytes, the
  *     compaction decision input, straight from one listing;
  *   - `compact(table, max_shards, target_mb)`: partition dirs holding
  *     more than `max_shards` shards are rewritten into
  *     ceil(bytes/target) gzip shards. JSONL compaction is LINE
  *     concatenation — no parse, no schema, bit-faithful rows — run as
  *     a distributed job (one task per dir), staged under the table
  *     root and swapped shard by shard through [[JsonlShards.swap]] (a
  *     crash mid-swap leaves the trash holding the only copy; the next
  *     run refuses until recovered — never silent data loss);
  *   - `expire_staging(table, age_minutes)`: drops `_staging/` write
  *     attempts older than the horizon (crashed writers leak them; a
  *     LIVE writer younger than the horizon is untouchable);
  *   - `build_skip_index(table, columns, bloom_columns, ...)` /
  *     `cluster_table(table, columns, target_shards, zorder)`: the
  *     stats→skip and cluster steps of the file-skipping ladder
  *     ([[JsonlSkipIndex]]);
  *   - `snapshot(table, tag)` / `snapshots(table)` /
  *     `expire_snapshots(table, keep_last)`: named snapshots + SQL
  *     time travel ([[JsonlSnapshots]]).
  *
  * Results come back as rows (LocalScan), so `CALL` composes with the
  * rest of SQL tooling. */
object GraftProcedures {

  private val statsSchema = StructType(Seq(
    StructField("partition", StringType), StructField("n_shards", IntegerType),
    StructField("bytes", LongType)))
  private val compactSchema = StructType(Seq(
    StructField("partition", StringType),
    StructField("shards_before", IntegerType),
    StructField("shards_after", IntegerType)))
  private val expireSchema = StructType(Seq(
    StructField("removed_attempts", IntegerType)))
  private val skipIndexSchema = StructType(Seq(
    StructField("indexed_shards", IntegerType)))
  private val snapshotSchema = StructType(Seq(
    StructField("version", LongType), StructField("tag", StringType),
    StructField("shards", IntegerType)))
  private val snapshotsSchema = StructType(Seq(
    StructField("version", LongType), StructField("tag", StringType),
    StructField("created_ms", LongType), StructField("shards", IntegerType)))
  private val expireSnapshotsSchema = StructType(Seq(
    StructField("manifests_removed", IntegerType),
    StructField("retained_files_removed", IntegerType)))
  private val tableChangesSchema = StructType(Seq(
    StructField("kind", StringType), StructField("shard", StringType),
    StructField("bytes", LongType), StructField("ordinals", LongType)))
  private val rollbackSchema = StructType(Seq(
    StructField("version", LongType),
    StructField("shards_removed", IntegerType),
    StructField("shards_restored", IntegerType)))
  private val evolveSchema = StructType(Seq(
    StructField("new_spec", StringType),
    StructField("legacy_specs", StringType)))

  private def utf8(s: String) = UTF8String.fromString(s)

  private def result(resultSchema: StructType, resultRows: Seq[InternalRow])
      : java.util.Iterator[Scan] =
    // parameter names deliberately differ from the LocalScan members:
    // `override def rows() = rows.toArray` would recurse on itself
    java.util.List.of[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = resultRows.toArray
      override def readSchema(): StructType = resultSchema
      override def description(): String = "graft procedure result"
    }).iterator()

  /** Shards grouped by partition-relative dir ("" = table root). */
  private def shardsByDir(fs: org.apache.hadoop.fs.FileSystem, table: Path)
      : Map[String, Seq[(Path, Long)]] = {
    // listStatus yields scheme-qualified paths (file:/...); qualify the
    // table root the same way or URI.relativize silently returns its
    // argument UNCHANGED on the scheme mismatch — an absolute "rel"
    // that would make every downstream Path(parent, rel) resolve to
    // the child itself and turn the compaction swap into a no-op
    val qualified = fs.makeQualified(table)
    JsonlLayout.discoverFull(fs, table)
      .map { case (p, _, len, _) =>
        val rel = qualified.toUri
          .relativize(fs.makeQualified(p.getParent).toUri).getPath
          .stripSuffix("/")
        require(!rel.startsWith("/"),
          s"failed to relativize $p against $qualified")
        (rel, p, len)
      }
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(x => (x._2, x._3)) }
  }

  def unbound(procName: String, catalog: GraftCatalog): UnboundProcedure =
    new UnboundProcedure {
      // NOT `name` — `override def name() = name` would resolve to the
      // method itself and scalac compiles the self-tail-call into an
      // infinite loop inside the analyzer's BindProcedures rule
      override def name(): String = procName
      override def description(): String = s"graft $procName"
      override def bind(inputType: StructType): BoundProcedure = procName match {
        case "table_stats" => tableStats(catalog)
        case "compact" => compact(catalog)
        case "expire_staging" => expireStaging(catalog)
        case "build_skip_index" => buildSkipIndex(catalog)
        case "cluster_table" => clusterTable(catalog)
        case "snapshot" => snapshotProc(catalog)
        case "snapshots" => snapshotsProc(catalog)
        case "expire_snapshots" => expireSnapshotsProc(catalog)
        case "table_changes" => tableChangesProc(catalog)
        case "rollback_to_snapshot" => rollbackProc(catalog)
        case "evolve_partitioning" => evolvePartitioningProc(catalog)
        case "maintenance_stats" => maintenanceStats(catalog)
        case "analyze_table" => analyzeTable(catalog)
        case "convert_table" => convertTable(catalog)
        case other => throw new IllegalArgumentException(
          s"unknown graft procedure $other")
      }
    }

  private abstract class Bound(procName: String, params: ProcedureParameter*)
      extends BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft $procName"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = params.toArray
  }

  private def tableParam =
    ProcedureParameter.in("table", StringType)
      .comment("namespace.table within this catalog").build()

  private def tableStats(catalog: GraftCatalog): BoundProcedure =
    new Bound("table_stats", tableParam) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (fs, dir) = catalog.resolveTableDir(input.getUTF8String(0).toString)
        val rows = shardsByDir(fs, dir).toSeq.sortBy(_._1).map {
          case (rel, shards) =>
            new GenericInternalRow(Array[Any](utf8(rel), shards.size,
              shards.map(_._2).sum)): InternalRow
        }
        result(statsSchema, rows)
      }
    }

  private val maintSchema = StructType(Seq(
    StructField("metric", StringType), StructField("value", LongType),
    StructField("detail", StringType)))

  /** `maintenance_stats(table)`: the 100 TB operator's one-pass
    * health dashboard — live layout, merge-on-read debt, pending
    * equality-delete (upsert) state and how many shards it exposes,
    * snapshot/retention footprint, and CRASH RESIDUE (stale wave
    * claims/tombstones, unconsumed pin-intent markers) — all from
    * metadata listings, zero data I/O, no locks. The final
    * `recommend` rows name the `CALL`s that would retire the debt, so
    * a scheduler can size maintenance from this one probe. */
  private def maintenanceStats(catalog: GraftCatalog): BoundProcedure =
    new Bound("maintenance_stats", tableParam) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (fs, table) = catalog.resolveTableDir(
          input.getUTF8String(0).toString)
        val out = Seq.newBuilder[InternalRow]
        def row(metric: String, value: Long, detail: String = ""): Unit =
          out += new GenericInternalRow(
            Array[Any](utf8(metric), value, utf8(detail)))
        val layout = JsonlLayout.discoverFull(fs, table)
        row("live_shards", layout.size)
        row("live_bytes", layout.iterator.map(_._3).sum)
        // merge-on-read debt: sidecar files and the hidden ordinals
        // the next compact retires
        val sidecars = JsonlDeletes.index(fs, table)
        row("mor_sidecars", sidecars.size)
        row("mor_deleted_rows", sidecars.valuesIterator
          .map(sc => JsonlDeletes.read(fs, new Path(sc)).length.toLong).sum)
        // equality-delete (upsert) debt: pending bytes drive the scan
        // plan (broadcast vs executor-direct vs refuse), exposure
        // counts the shards per-row checks can reach
        val eqDir = JsonlEqDeletes.dir(table)
        var eqFiles = 0L; var eqBytes = 0L
        var staleClaims = 0L; var tombstones = 0L
        if (fs.exists(eqDir)) fs.listStatus(eqDir).foreach { st =>
          val n = st.getPath.getName
          if (n.endsWith(".json") && !n.startsWith(".")) {
            eqFiles += 1; eqBytes += st.getLen
          } else if (n.endsWith(".claim")) staleClaims += 1
          else if (n.endsWith(".dropped")) tombstones += 1
        }
        val eqMax = JsonlEqDeletes.currentSeq(fs, table)
        row("eq_pending_files", eqFiles)
        row("eq_pending_bytes", eqBytes)
        val exposed =
          if (eqMax == 0L) 0L
          else layout.count { case (p, _, _, _) =>
            JsonlEqDeletes.shardSeqOf(p.getName) < eqMax }.toLong
        row("eq_exposed_shards", exposed)
        row("eq_wave_claims", staleClaims,
          if (staleClaims > 0) "in-flight or crashed waves" else "")
        row("eq_tombstones", tombstones,
          if (tombstones > 0) "crashed waves (sequences retired)" else "")
        // snapshot footprint + crash residue
        val manifests = JsonlSnapshots.list(fs, table)
        row("snapshots", manifests.size)
        val retained = JsonlSnapshots.retainedRoot(table)
        var retainedFiles = 0L; var retainedBytes = 0L
        def walk(d: Path): Unit = if (fs.exists(d))
          fs.listStatus(d).foreach { st =>
            if (st.isDirectory) walk(st.getPath)
            else { retainedFiles += 1; retainedBytes += st.getLen }
          }
        walk(retained)
        row("retained_files", retainedFiles)
        row("retained_bytes", retainedBytes)
        val snapDir = JsonlSnapshots.dir(table)
        val intents =
          if (!fs.exists(snapDir)) 0L
          else fs.listStatus(snapDir)
            .count(_.getPath.getName.startsWith(".intent.")).toLong
        row("pin_intents", intents,
          if (intents > 0) "in-flight or crashed auto-snapshot commits" else "")
        // clustering health: shards whose skip entry carries a
        // VERIFIED sort prefix (write-time measured / cluster-table
        // transplanted) — the inputs to zero-sort plans and to the
        // idempotent cluster_table no-op
        locally {
          val schemaMs = JsonlSnapshots.tableSchemaOf(fs, table,
            org.apache.spark.sql.types.StructType(Nil))
          val idx = JsonlSkipIndex.open(fs, table, schemaMs)
          row("sorted_shards", layout.count { case (p, _, _, _) =>
            idx.get(fs.makeQualified(p).toString)
              .exists(_.sorted.nonEmpty) }.toLong,
            "live shards with a verified write-order prefix")
        }
        // partition-rename alias reservation: a former partition
        // column name stays reserved (ADD/RENAME refuse it) while any
        // LIVE dir still uses it OR any snapshot manifest references a
        // rel under an old-named dir (rollback could restore those
        // dirs). One row per alias, naming the pinning snapshot ids so
        // an operator knows exactly what to expire (then rewrite +
        // CALL evolve_partitioning) to release the name.
        locally {
          val schemaAl = JsonlSnapshots.tableSchemaOf(fs, table,
            org.apache.spark.sql.types.StructType(Nil))
          val aliases = schemaAl.fields.iterator.flatMap(f =>
            JsonlTable.partAliasesOf(f).iterator.map(_ -> f.name)).toSeq
          if (aliases.nonEmpty) {
            val qT = fs.makeQualified(table).toUri
            def segNames(rel: String): Set[String] =
              rel.split("/").init.filter(_.contains("="))
                .map(_.split("=", 2)(0)).toSet
            val liveSegs = layout.iterator.map { case (p, _, _, _) =>
              segNames(qT.relativize(fs.makeQualified(p).toUri).getPath)
            }.foldLeft(Set.empty[String])(_ ++ _)
            aliases.foreach { case (alias, current) =>
              val liveDirs = liveSegs.contains(alias)
              val pinning = manifests.filter(_.shards.keysIterator
                .exists(rel => segNames(rel).contains(alias)))
                .map(m => s"v${m.id}${m.tag.fold("")(t => s"($t)")}")
              val detail =
                (if (liveDirs) Seq("live dirs") else Nil) ++
                  (if (pinning.nonEmpty)
                    Seq(s"pinned by ${pinning.mkString(",")}") else Nil)
              row(s"part_alias:$alias->$current",
                pinning.size.toLong,
                if (detail.isEmpty)
                  "unused — rewrite + CALL evolve_partitioning releases it"
                else detail.mkString("; "))
              if (pinning.nonEmpty && !liveDirs)
                row("recommend", pinning.size.toLong,
                  s"CALL expire_snapshots — release partition alias " +
                    s"'$alias' (pinned by ${pinning.mkString(",")})")
            }
          }
        }
        // recommendations, debt-ranked: each names the CALL that
        // retires it
        if (eqFiles > 0 || sidecars.nonEmpty)
          row("recommend", exposed + sidecars.size,
            "CALL compact — reconcile upsert waves / retire MOR sidecars")
        if (manifests.size > 16)
          row("recommend", manifests.size.toLong,
            "CALL expire_snapshots(keep_last => ...) — bound history")
        result(maintSchema, out.result())
      }
    }

  /** `convert = true` ([[convertTable]]'s delegate): additionally
    * rewrite every dir (the table root included) holding ANY shard not
    * in the table's at-rest format — the one-CALL conversion finisher,
    * under the same lock/trash/snapshot-retention protocol. */
  private def compact(catalog: GraftCatalog,
                      convert: Boolean = false): BoundProcedure =
    new Bound("compact", tableParam,
      ProcedureParameter.in("max_shards", IntegerType).defaultValue("8")
        .comment("rewrite dirs holding more shards than this").build(),
      ProcedureParameter.in("target_mb", IntegerType).defaultValue("64")
        .comment("target compacted shard size").build(),
      ProcedureParameter.in("partition", StringType).defaultValue("''")
        .comment("partition-relative dir to compact ALONE under its " +
          "scoped lock (concurrent with other partitions' commits); " +
          "'' = whole table under the table lock").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (fs, table) = catalog.resolveTableDir(input.getUTF8String(0).toString)
        val maxShards = input.getInt(1)
        val targetBytes = input.getInt(2).toLong << 20
        // PARTITION-scoped mode: compact one hot partition of a huge
        // table without excluding writers of the other partitions —
        // the swap holds only that dir's scoped lock (table-wide
        // holders still drain it), and the staging/trash dirs carry
        // the scope hash so concurrent partition compacts never share
        // swap state
        val scope = Option(input.getUTF8String(3)).map(_.toString)
          .filter(_.nonEmpty)
        scope.foreach(sc => require(
          sc.split("/").forall(_.contains("=")),
          s"compact partition must be a partition-relative dir " +
            s"(k=v[/k2=v2...]), got '$sc'"))
        val suffix =
          scope.fold("")(sc =>
            "_" + RowLevelLock.scopeLockName(sc).stripSuffix(".lock"))
        // underscore-prefixed dirs INSIDE the table directory: readers
        // never descend into non-`k=v` dirs, and namespace discovery
        // never looks inside a table dir — so neither shows up as a
        // phantom namespace mid-run (or after a crash), unlike the
        // former `<table>__compact_*` sibling paths
        val staging = new Path(table, s"_compact_staging$suffix")
        val trash = new Path(table, s"_compact_trash$suffix")
        val spark = org.apache.spark.sql.SparkSession.active
        val conf = JsonlHadoopConf.fromSession()
        // single-maintenance-writer PER SCOPE: the rewrite + swap holds
        // the same lock tier as row-level commits, cluster_table, and
        // snapshot, so none can race the swap of the shards it read
        val rloLocks = RowLevelLock.acquireScoped(fs, conf.value, table,
          s"compact-${java.util.UUID.randomUUID}", scope.toSeq)
        try {
        // discovery runs INSIDE the lock: a COW/MOR commit landing
        // between listing the shards and the swap would retire (or
        // re-sidecar) shards the plan still names
        // glob-based: a crashed swap of ANY kind — table-wide, another
        // scope's suffixed dirs, COW, cluster — can hold the only copy
        // of shards this run would walk or retire; refuse on all of
        // them (this run's own staging/trash names don't exist yet, so
        // the glob is a pure pre-check)
        JsonlSnapshots.requireNoCrashedSwaps(fs, table, "compact")
        // stats carry (entry capture BEFORE any mutation; exit hook
        // re-stamps fresh stats under the post-maintenance fingerprint)
        val statsDone = statsCarry(catalog,
          input.getUTF8String(0).toString, fs, table)
        // merge-on-read integration: compaction is where position-
        // delete sidecars are RETIRED — deleted lines are dropped from
        // the rewritten shards (still pure line I/O: the sidecar is
        // ordinals, no JSON parse) and the consumed sidecars deleted.
        // A dir holding ANY sidecar qualifies regardless of shard
        // count (including the table ROOT, which the size criterion
        // skips).
        val sidecars = JsonlDeletes.index(fs, table)
        // equality-delete reconcile ([[JsonlEqDeletes]]): dirs holding
        // shards EXPOSED to pending equality deletes (name stamp <
        // current max sequence) rewrite too — hidden rows drop, the
        // outputs re-stamp at the max sequence, and key files no live
        // shard is exposed to retire below
        // byte-capped plan (JsonlEqDeletes.planTable): under the
        // broadcast cap the driver holds the map (and the rangeClear
        // probe below is available); over it the map stays empty on
        // the driver and rewrite TASKS load the shared executor index
        // from the key files — compact reconciles arbitrarily large
        // pending state with bounded driver memory.
        val eqPlan = JsonlEqDeletes.planTable(fs, table, conf.value)
        val eqMap = eqPlan.map
        val eqMax = eqPlan.maxSeq
        val eqTaskFiles = eqPlan.files
        def exposed(name: String): Boolean =
          eqMax > 0L && JsonlEqDeletes.shardSeqOf(name) < eqMax
        // reader context for the equality filter: per key column its
        // STORAGE key, rename aliases, and type (the canonical tuple
        // rendering must match the writers')
        val eqTbl = catalog.loadTable(Identifier.of(
          input.getUTF8String(0).toString.split("\\.").init,
          input.getUTF8String(0).toString.split("\\.").last))
        val eqTblSchema = eqTbl.schema()
        val eqTblProps = scala.jdk.CollectionConverters.MapHasAsScala(
          eqTbl.properties).asScala.toMap
        // outputs land in the TABLE's at-rest format — compact is also
        // the conversion path after an ALTER of graft.format — and
        // honor the table's parquet compression properties
        val outFmt = JsonlTable.formatOf(eqTblProps)
        val sinkConf = JsonlHadoopConf.fromSession(
          JsonlTable.parquetWriteConf(eqTblProps))
        // over-cap the plan carries no cols (the driver read no file)
        // — the table property is authoritative
        val eqCols: Seq[String] =
          if (eqPlan.isEmpty) Nil
          else if (eqPlan.cols.nonEmpty) eqPlan.cols
          else JsonlTable.upsertKeysOf(eqTblProps)
        val keySpecs: Seq[(String, String, Seq[String],
            org.apache.spark.sql.types.DataType)] =
          eqCols.map { c =>
            val fl = eqTblSchema.fields.find(_.name == c).getOrElse(
              throw new IllegalStateException(s"upsert key $c left the schema"))
            (c, JsonlTable.physicalKeyOf(fl), JsonlTable.aliasesOf(fl),
              fl.dataType)
          }
        // SKIP-RANGE fast path for the reconcile: an exposed shard
        // whose skip-index [min, max] on a single numeric key excludes
        // EVERY pending key holds no hidden rows — it only needs
        // RE-STAMPING (a rename), not a rewrite. Sound for approx
        // entries too (their range is a superset of the truth).
        // Manifest-referenced shards keep their names (snapshots
        // resolve by rel) and fall back to the rewrite path.
        // over-cap (eqMap empty, keys live only on executors) the
        // probe MUST be null: an empty-map probe would answer
        // "exhausted" for every stamp and re-stamp exposed shards by
        // rename without dropping their hidden rows
        val eqProbe: JsonlEqDeletes.RangeProbe =
          if (eqMax == 0L || eqMap.isEmpty) null
          else JsonlEqDeletes.rangeProbe(eqMap, keySpecs.map(_._1),
            keySpecs.map(_._4))
        val preIdxEq =
          if (eqProbe == null) null
          else JsonlSkipIndex.open(fs, table, eqTblSchema)
        // only keys whose delete sequence OUTRANKS the shard's stamp
        // can hide its rows (a wave's own keys always overlap its own
        // shard's range — they must not defeat the fast path)
        def rangeClear(qshard: String, stamp: Long): Boolean =
          eqProbe != null && {
            eqProbe.exhausted(stamp) || (preIdxEq.get(qshard) match {
              case Some(e) => eqProbe.clear(stamp, i =>
                e.stats.get(keySpecs(i)._2).collect {
                  case (mn, mx, _) if mn != null && mx != null => (mn, mx)
                })
              case _ => false
            })
          }
        val referencedRelsEq =
          if (eqMax == 0L) Set.empty[String]
          else JsonlSnapshots.referencedRels(fs, table)
        val qualifiedTbl = fs.makeQualified(table).toUri
        val renameStamps =
          scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
        val todo = shardsByDir(fs, table)
          .filter { case (rel, shards) =>
            scope.forall(_ == rel) && {
              val oversized = rel.nonEmpty && shards.size > maxShards
              val hasSc = shards.exists(s => sidecars.contains(s._1.toString))
              // conversion sweep: any shard whose extension disagrees
              // with the (just-updated) table format rewrites — root
              // dir included
              val wrongFmt = convert && shards.exists { case (p, _) =>
                GraftParquetShard.isParquetName(p.getName) !=
                  (outFmt == "parquet") }
              val exposedShards = shards.filter(s => exposed(s._1.getName))
              if (oversized || hasSc || wrongFmt) true
              else if (exposedShards.isEmpty) false
              else {
                val allClear = exposedShards.forall { case (p, _) =>
                  val r = qualifiedTbl
                    .relativize(fs.makeQualified(p).toUri).getPath
                  !referencedRelsEq.contains(r) &&
                    rangeClear(fs.makeQualified(p).toString,
                      JsonlEqDeletes.shardSeqOf(p.getName))
                }
                if (allClear)
                  exposedShards.foreach { case (p, _) =>
                    val n = JsonlEqDeletes.stampName(p.getName, eqMax)
                    if (n != p.getName)
                      renameStamps += ((p, new Path(p.getParent, n)))
                  }
                !allClear
              }
            }
          }
          .toSeq.sortBy(_._1)
        // execute the rename-stamps (inside the lock): same bytes, new
        // name carrying the current sequence — the skip entries re-key
        if (renameStamps.nonEmpty) {
          val rel2 = renameStamps.map { case (o, n) =>
            require(fs.rename(o, n), s"eq re-stamp rename failed for $o")
            (qualifiedTbl.relativize(fs.makeQualified(o).toUri).getPath,
              qualifiedTbl.relativize(fs.makeQualified(n).toUri).getPath)
          }
          JsonlSkipIndex.renameEntries(fs, table, rel2.toSeq)
        }
        if (todo.isEmpty) {
          // re-stamps + key-file retirement still moved the
          // fingerprint: carry the stats over them too
          retireOutgrownKeys(fs, table, eqMax); statsDone()
          return result(compactSchema, Nil)
        }
        val tableStr = table.toString
        val stagingStr = staging.toString
        // partition-column rename: executor tasks resolving key-column
        // values from partition paths must fold pre-rename dir names
        val segAliases: Map[String, String] =
          JsonlTable.segmentAliasesOf(eqTblSchema)
        // one task per oversized dir: line-level concatenation of its
        // shards into ceil(bytes/target) gzip files — no parse, rows
        // bit-identical, memory O(1) per task (plus one bitset per
        // sidecar-carrying shard). Output GROUPS (and names) are
        // assigned on the DRIVER so the post-swap index synthesis
        // below knows exactly which inputs each output concatenates;
        // the swap stamps them at eqMax.
        val plan = todo.map { case (rel, shards) =>
          val withSc = shards.map { case (p, len) =>
            (p.toString, len, sidecars.getOrElse(p.toString, null),
              exposed(p.getName)) }
          val totalBytes = withSc.map(_._2).sum
          val nOut = math.max(1, math.ceil(
            totalBytes.toDouble / targetBytes).toInt)
          val groups = withSc.grouped(
            math.max(1, math.ceil(withSc.size.toDouble / nOut).toInt)).toSeq
          (rel, groups.zipWithIndex.map { case (g, i) =>
            (f"compact-$i%05d-${java.util.UUID.randomUUID}" +
              ShardFileSink.extensionOf(outFmt), g) })
        }
        // a function value, so the rewrite tasks below capture only it
        val stagedOf = (rel: String, outName: String) =>
          new Path(s"$stagingStr/$rel", outName).toString
        val after = spark.sparkContext
          .parallelize(plan, math.max(1, plan.size))
          .map { case (rel, namedGroups) =>
            val f = new Path(tableStr).getFileSystem(conf.value)
            // over-cap equality state: one shared load per executor
            val taskEqMap: Map[String, Long] =
              if (eqTaskFiles.isEmpty) eqMap
              else JsonlEqDeletes.ExecutorIndexCache
                .get(conf.value, eqTaskFiles)._1
            namedGroups.foreach { case (outName, group) =>
              val outPath = new Path(stagedOf(rel, outName))
              // rows-based rewrite whenever parquet is involved on
              // either side (byte-level concat is a JSONL-only trick):
              // each input decodes through the shard row reader —
              // sidecar ordinals dropped, equality-hidden rows filtered
              // by the reader's own stamp rule — and re-encodes through
              // the table-format sink. The JSONL->JSONL path below
              // stays pure line I/O (no parse, rows bit-identical).
              val rowsMode = outFmt == "parquet" ||
                group.exists(g => GraftParquetShard.isParquetName(g._1))
              if (rowsMode) {
                // format invariant: partition-column values ride in the
                // k=v dirs, never in the file (the dataIdx pattern of
                // the task writer, JsonlPartitionedDataWriter, which
                // writes every table layout) — project the dir's
                // columns out of the rewritten shards too, or a compact
                // of a partitioned table would bloat files with values
                // readers mask anyway
                val relPartCols: Set[String] = rel.split("/")
                  .filter(_.contains("=")).map { seg =>
                    val k = seg.split("=", 2)(0)
                    segAliases.getOrElse(k, k)
                  }.toSet
                val dataIdx = eqTblSchema.fields.indices
                  .filterNot(i => relPartCols.contains(eqTblSchema.fields(i).name))
                val sink = ShardFileSink(outFmt, outPath, eqTblSchema,
                  dataIdx, sinkConf)
                group.foreach { case (shard, _, sc, exp) =>
                  val p = new Path(shard)
                  val pv = JsonlLayout.partValuesFromPath(p, segAliases)
                  val eqM =
                    if (exp && keySpecs.nonEmpty) taskEqMap
                    else Map.empty[String, Long]
                  val eqC = if (eqM.isEmpty) Nil else keySpecs.map(_._1)
                  val rdr = new ShardRowReader(
                    JsonlInputPartition(shard, pv, deletes = sc), eqTblSchema,
                    eqTblSchema, conf, eqDeletes = eqM, eqCols = eqC)
                  try while (rdr.next()) sink.write(rdr.get())
                  finally rdr.close()
                }
                sink.close()
              } else {
              val out = new java.util.zip.GZIPOutputStream(f.create(outPath, true))
              group.foreach { case (shard, _, sc, exp) =>
                val deleted =
                  if (sc == null) null
                  else JsonlDeletes.readBitSet(conf, sc)
                val p = new Path(shard)
                // equality filter context for an EXPOSED shard: its
                // stamp, and partition-path values for key columns the
                // JSON body omits
                val shardSeq = JsonlEqDeletes.shardSeqOf(p.getName)
                val pv: Map[String, Option[String]] =
                  if (!exp || keySpecs.isEmpty) Map.empty
                  else JsonlLayout.partValuesFromPath(p, segAliases)
                val jm = new com.fasterxml.jackson.databind.ObjectMapper()
                val in = f.open(p)
                val stream =
                  if (shard.endsWith(".gz")) new java.util.zip.GZIPInputStream(in)
                  else in
                val reader = new java.io.BufferedReader(
                  new java.io.InputStreamReader(stream, StandardCharsets.UTF_8))
                var lineNo = -1L
                var line = reader.readLine()
                while (line != null) {
                  lineNo += 1
                  if (deleted == null || lineNo > Int.MaxValue ||
                      !deleted.get(lineNo.toInt)) {
                    val hidden = exp && keySpecs.nonEmpty && line.nonEmpty && {
                      val node =
                        try jm.readTree(line)
                        catch { case _: Exception => null }
                      node != null && node.isObject && {
                        val nf = jm.getNodeFactory
                        val nodes = keySpecs.map { case (c, sk, als, _) =>
                          if (pv.contains(c))
                            pv(c).map(v => nf.textNode(v)
                              : com.fasterxml.jackson.databind.JsonNode).orNull
                          else {
                            var v: com.fasterxml.jackson.databind.JsonNode =
                              node.get(sk)
                            if (v == null)
                              als.iterator.map(node.get).find(_ != null)
                                .foreach(v = _)
                            v
                          }
                        }
                        // partition values ride as TEXT nodes; render
                        // through StringType so "42" stays "42" (the
                        // writer rendered the same digits)
                        val dts = keySpecs.zip(nodes).map {
                          case ((c, _, _, dt), _) if pv.contains(c) =>
                            org.apache.spark.sql.types.StringType
                          case ((_, _, _, dt), _) => dt
                        }
                        val key = JsonlEqDeletes.renderNodes(nodes, dts)
                        taskEqMap.get(key).exists(_ > shardSeq)
                      }
                    }
                    if (!hidden) {
                      out.write(line.getBytes(StandardCharsets.UTF_8))
                      out.write('\n')
                    }
                  }
                  line = reader.readLine()
                }
                reader.close()
              }
              out.close()
              }
            }
            (rel, namedGroups.map(_._2.size).sum, namedGroups.size)
          }.collect()
        // metadata-only index carry-over: each output's entry folds
        // its inputs' entries (range union, Σ rows − dropped deleted
        // lines) — computed BEFORE the swap retires the inputs, so a
        // fully-indexed dir stays skippable through compaction with
        // zero re-scan; a group with any unindexed input stays
        // unindexed until the next `CALL build_skip_index`
        val preIdx = JsonlSkipIndex.open(fs, table, eqTblSchema)
        val synthesized: Map[String, JsonlSkipIndex.ShardWriteStats] =
          plan.flatMap { case (rel, namedGroups) =>
            namedGroups.flatMap { case (outName, group) =>
              val entries = group.flatMap { case (shard, _, _, _) =>
                preIdx.get(fs.makeQualified(new Path(shard)).toString) }
              // an equality-filtered input drops an unknown row count:
              // its group stays unindexed until the next build
              if (entries.size != group.size || group.exists(_._4)) None
              else {
                val dropped = group.iterator.map { case (_, _, sc, _) =>
                  if (sc == null) 0L
                  else JsonlDeletes.read(fs, new Path(sc)).distinct.length.toLong
                }.sum
                JsonlSkipIndex.foldForConcat(entries, dropped, eqTblSchema)
                  .map(stagedOf(rel, outName) -> _)
              }
            }
          }.toMap
        JsonlShards.swap(fs, table, trash,
          plan.flatMap(_._2.flatMap(_._2.map(g => new Path(g._1)))),
          plan.flatMap { case (rel, namedGroups) =>
            namedGroups.map { case (outName, _) => (stagedOf(rel, outName), rel) }
          }, synthesized, eqMax)
        fs.delete(staging, true)
        // equality-delete retirement: the rewrite re-stamped the
        // exposed shards (global rule — a scoped run retires only what
        // the rest of the layout also outgrew)
        retireOutgrownKeys(fs, table, eqMax)
        statsDone()
        result(compactSchema, after.toSeq.map { case (rel, b, a) =>
          new GenericInternalRow(Array[Any](utf8(rel), b, a)): InternalRow })
        } finally RowLevelLock.releaseAll(fs, rloLocks)
      }
    }

  /** Equality-delete retirement after a rewrite that reconciled every
    * delete <= `eqMax`: a key file with sequence S is needed only while
    * some live shard's stamp is < S, so drop what no live shard is
    * exposed to (a wave that landed mid-rewrite keeps its
    * higher-sequence file — its stamps hold the minimum down). Key
    * files a snapshot manifest embedded move to retained/ instead —
    * pinned scans keep resolving them. */
  private def retireOutgrownKeys(fs: org.apache.hadoop.fs.FileSystem,
                                 table: Path, eqMax: Long): Unit =
    if (eqMax > 0L) {
      val live = JsonlLayout.discoverFull(fs, table)
      val minLive =
        if (live.isEmpty) Long.MaxValue
        else live.iterator.map { case (p, _, _, _) =>
          JsonlEqDeletes.shardSeqOf(p.getName) }.min
      JsonlEqDeletes.retire(fs, table, minLive,
        JsonlSnapshots.retainedRoot(table))
    }

  /** MAINTENANCE STATS CARRY-OVER: compaction / clustering /
    * conversion / eq-delete reconciliation preserve the table's
    * LOGICAL content — the live rows a scan serves are identical
    * before and after — yet they move the content fingerprint, which
    * withdraws ANALYZE stats and uniqueness verifications (correct
    * conservatism for writes, wrong for maintenance: the table that
    * JUST got maintained is exactly the one left planning without
    * stats until a second ANALYZE). Protocol: capture whether the
    * stats were FRESH at procedure entry (inside the lock, before any
    * mutation); at exit, re-stamp the SAME stats — row count, column
    * stats, uniqueness verifications — under the post-maintenance
    * fingerprint. Stats already stale at entry are never revived
    * (their values describe an unknown older layout), but when the
    * post-maintenance layout is sidecar-free, eq-free, and fully
    * skip-indexed, the row count alone refreshes for free from the
    * index's exact per-shard counts. Returns the exit hook. */
  private def statsCarry(catalog: GraftCatalog, tableName: String,
                         fs: org.apache.hadoop.fs.FileSystem,
                         table: Path): () => Unit = {
    val prior = catalog.readTableMeta(tableName)._3
      .get(JsonlTable.StatsProp).flatMap(JsonlTableStats.fromJson)
    val wasFresh = prior.exists(
      _.fingerprint == JsonlLayout.statsFingerprint(fs, table))
    () => {
      val fpAfter = JsonlLayout.statsFingerprint(fs, table)
      if (wasFresh) {
        val s = prior.get
        if (s.fingerprint != fpAfter)
          catalog.updateTableProps(tableName)(_ + (JsonlTable.StatsProp ->
            JsonlTableStats.toJson(s.copy(fingerprint = fpAfter))))
      } else if (prior.isDefined &&
          JsonlDeletes.index(fs, table).isEmpty &&
          JsonlEqDeletes.pendingNames(fs, table).isEmpty) {
        // rows-only refresh: exact iff the index covers EVERY live
        // shard (per-shard counts are exact by construction)
        val schema = catalog.readTableMeta(tableName)._1
        val entries = JsonlSkipIndex.entriesOf(fs, table, schema)
        val live = JsonlLayout.discoverFull(fs, table)
        val covered = entries.map(e => new Path(e._1).getName).toSet
        if (live.nonEmpty && live.forall { case (p, _, _, _) =>
            covered.contains(p.getName) })
          catalog.updateTableProps(tableName)(_ + (JsonlTable.StatsProp ->
            JsonlTableStats.toJson(JsonlTableStats.TableStats(
              entries.map(_._2.nRows).sum, fpAfter, Map.empty))))
      }
    }
  }

  private val analyzeSchema = StructType(Seq(
    StructField("column", StringType),
    StructField("ndv", LongType),
    StructField("nulls", LongType),
    StructField("min", StringType),
    StructField("max", StringType)))

  /** `analyze_table(table, columns)`: ONE distributed aggregation pass
    * computing row count + per-column NDV (HLL) / null count / min/max
    * (numerics, dates, timestamps) / avg+max byte length (strings),
    * persisted into the table spec ([[JsonlTable.StatsProp]]) together
    * with the layout's content fingerprint. Every later scan serves
    * them to Spark's CBO through `estimateStatistics` WHILE FRESH
    * (fingerprint still matching — see [[JsonlTableStats]] for the
    * staleness contract), so joins over graft catalog tables plan with
    * real cardinalities instead of byte-size guesses. Ingest-wave
    * cadence, the same maintenance class as compact. */
  private def analyzeTable(catalog: GraftCatalog): BoundProcedure =
    new Bound("analyze_table", tableParam,
      ProcedureParameter.in("columns", StringType).defaultValue("''")
        .comment("comma-separated columns; '' = every supported column")
        .build(),
      ProcedureParameter.in("unique_candidates", StringType)
        .defaultValue("''")
        .comment("columns to EXACTLY verify duplicate-free over non-null " +
          "values (one grouped pass each); a verified-unique fresh column " +
          "unlocks the eager-aggregation rewrite " +
          "(spark.graft.eagerAgg.enabled)").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val tableName = input.getUTF8String(0).toString
        val colsArg = Option(input.getUTF8String(1)).map(_.toString.trim)
          .getOrElse("")
        val uniqueArg = Option(input.getUTF8String(2)).map(_.toString.trim)
          .getOrElse("")
        val (fs, table) = catalog.resolveTableDir(tableName)
        val (schema, _, _) = catalog.readTableMeta(tableName)
        val wanted: Seq[StructField] =
          if (colsArg.isEmpty)
            schema.fields.toSeq.filter(f =>
              JsonlTableStats.analyzable(f.dataType))
          else colsArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            .map { c =>
              val f = schema.fields.find(_.name == c).getOrElse(
                throw new IllegalArgumentException(
                  s"analyze_table: no column '$c' in $tableName"))
              require(JsonlTableStats.analyzable(f.dataType),
                s"analyze_table: ${f.dataType.simpleString} column '$c' " +
                  "is not analyzable")
              f
            }
        val spark = org.apache.spark.sql.SparkSession.active
        // fingerprint BEFORE the scan: a write racing the aggregation
        // makes the published stats immediately stale — detected, the
        // conservative direction — rather than fresh-but-wrong
        val fp = JsonlLayout.statsFingerprint(fs, table)
        import org.apache.spark.sql.functions._
        val df = spark.read.format("graft-jsonl").schema(schema)
          .load(table.toString)
        import org.apache.spark.sql.types.{DateType, StringType => SStr,
          TimestampType => STs}
        val aggs: Seq[org.apache.spark.sql.Column] =
          Seq(count(lit(1)).as("__rows")) ++ wanted.flatMap { f =>
            val c = col(f.name); val n = f.name
            val base = Seq(
              approx_count_distinct(c).as(s"__ndv__$n"),
              sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nulls__$n"))
            f.dataType match {
              case LongType | IntegerType =>
                base ++ Seq(min(c).cast("long").as(s"__min__$n"),
                  max(c).cast("long").as(s"__max__$n"))
              case org.apache.spark.sql.types.DoubleType =>
                base ++ Seq(min(c).as(s"__min__$n"), max(c).as(s"__max__$n"))
              case DateType => base ++ Seq(
                datediff(min(c), lit("1970-01-01").cast("date"))
                  .cast("long").as(s"__min__$n"),
                datediff(max(c), lit("1970-01-01").cast("date"))
                  .cast("long").as(s"__max__$n"))
              case STs => base ++ Seq(
                unix_micros(min(c)).as(s"__min__$n"),
                unix_micros(max(c)).as(s"__max__$n"))
              case SStr => base ++ Seq(
                ceil(avg(octet_length(c))).cast("long").as(s"__avgLen__$n"),
                max(octet_length(c)).cast("long").as(s"__maxLen__$n"))
              case _ => base // boolean / ntz: ndv + nulls only
            }
          }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        // EXACT uniqueness probes (opt-in, one grouped pass per
        // candidate — offline cadence): duplicate-free over NON-NULL
        // values, the premise the eager-aggregation join rewrite needs
        // (null join keys never match, so null multiplicity is moot)
        val uniqueCols: Set[String] = uniqueArg.split(",").map(_.trim)
          .filter(_.nonEmpty).map { cn =>
            require(schema.fieldNames.contains(cn),
              s"analyze_table: unique_candidates column '$cn' not in $tableName")
            val dup = df.filter(col(cn).isNotNull).groupBy(col(cn))
              .agg(count(lit(1)).as("__c")).filter(col("__c") > 1L)
              .limit(1).collect()
            cn -> dup.isEmpty
          }.collect { case (cn, true) => cn }.toSet
        def get(name: String): Option[Any] = {
          val i = row.schema.fieldNames.indexOf(name)
          if (i < 0 || row.isNullAt(i)) None else Some(row.get(i))
        }
        def getL(name: String): Option[Long] =
          get(name).map(_.asInstanceOf[Number].longValue)
        val rows = getL("__rows").getOrElse(0L)
        val wantedAll = (wanted ++ uniqueCols
          .filterNot(c => wanted.exists(_.name == c))
          .map(c => schema.fields.find(_.name == c).get)).toSeq
        val cols = wantedAll.map { f =>
          val n = f.name
          f.name -> JsonlTableStats.ColStat(
            ndv = getL(s"__ndv__$n"), nulls = getL(s"__nulls__$n"),
            min = get(s"__min__$n"), max = get(s"__max__$n"),
            avgLen = getL(s"__avgLen__$n"), maxLen = getL(s"__maxLen__$n"),
            unique = uniqueCols.contains(n))
        }.toMap
        val stats = JsonlTableStats.TableStats(rows, fp, cols)
        catalog.updateTableProps(tableName)(
          _ + (JsonlTable.StatsProp -> JsonlTableStats.toJson(stats)))
        val out = Seq(new GenericInternalRow(Array[Any](
          utf8("(table)"), rows, 0L, null, null)): InternalRow) ++
          wanted.map { f =>
            val c = cols(f.name)
            new GenericInternalRow(Array[Any](utf8(f.name),
              c.ndv.getOrElse(-1L), c.nulls.getOrElse(-1L),
              c.min.map(v => utf8(v.toString)).orNull,
              c.max.map(v => utf8(v.toString)).orNull)): InternalRow
          }
        result(analyzeSchema, out)
      }
    }

  /** `convert_table(table, format)`: one-CALL at-rest-format
    * conversion — points the table's `graft.format` at the target,
    * then runs the compact rewrite in conversion mode (every dir
    * holding a wrong-format shard rewrites, table root included) under
    * the SAME lock / trash / snapshot-retention protocol, and asserts
    * the post-state: every live shard in the target format. Snapshots
    * pinned before the conversion keep answering (trashed originals a
    * manifest references move to `_snapshots/retained/`), the skip
    * index carries (compact synthesizes folded entries), and pending
    * upsert waves reconcile — exactly the two-step
    * `ALTER ... graft.format` + `CALL compact` path, minus the chance
    * to forget the second step. */
  private def convertTable(catalog: GraftCatalog): BoundProcedure =
    new Bound("convert_table", tableParam,
      ProcedureParameter.in("format", StringType).defaultValue("'parquet'")
        .comment("target at-rest shard format: parquet or jsonl").build(),
      ProcedureParameter.in("target_mb", IntegerType).defaultValue("64")
        .comment("target rewritten shard size").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val tableName = input.getUTF8String(0).toString
        val fmt = Option(input.getUTF8String(1))
          .map(_.toString.trim.toLowerCase(java.util.Locale.ROOT))
          .filter(_.nonEmpty).getOrElse("parquet")
        require(fmt == "parquet" || fmt == "jsonl",
          s"convert_table: format must be parquet or jsonl, got '$fmt'")
        catalog.updateTableProps(tableName)(
          _ + (JsonlTable.FormatProp -> fmt))
        // delegate to compact in conversion mode; max_shards high so
        // only wrong-format (and sidecar/exposed) dirs rewrite
        val it = compact(catalog, convert = true).call(
          new GenericInternalRow(Array[Any](utf8(tableName),
            Int.MaxValue, input.getInt(2), utf8(""))))
        val (fs, table) = catalog.resolveTableDir(tableName)
        val bad = JsonlLayout.discoverFull(fs, table).filter {
          case (p, _, _, _) =>
            GraftParquetShard.isParquetName(p.getName) != (fmt == "parquet")
        }
        require(bad.isEmpty,
          s"convert_table: ${bad.size} live shards still not $fmt after " +
            s"the rewrite (first: ${bad.headOption.map(_._1).orNull})")
        it
      }
    }

  /** `cluster_table(table, columns, target_shards)`: sort-rewrite —
    * rows range-repartitioned and sorted on `columns` into
    * `target_shards` shards, then swapped in ([[JsonlShards.swap]]) —
    * so each rewritten shard covers a contiguous key range
    * and the skip index ([[JsonlSkipIndex]]) actually prunes: the
    * OPTIMIZE + cluster step of the cluster→stats→skip ladder
    * (Delta's OPTIMIZE ZORDER shape). `zorder => true` interleaves
    * ≥2 numeric columns on the Morton curve
    * ([[graft.operators.ZOrder.zValue]], the same codegen'd
    * bit-interleave the parquet helper uses) so probes on ANY of the
    * columns prune, not just the first sort key. The rewrite reads
    * through the ordinary scan, so merge-on-read sidecars are applied
    * and then retired with the shards they indexed. The skip index is
    * rebuilt for `columns` (plus the table's `graft.skip.columns`)
    * after the swap.
    *
    * PARTITIONED tables cluster WITHIN each partition dir: one
    * distributed job range-shuffles on (partition cols, sort keys) —
    * the partition-col prefix keeps each output task inside one dir's
    * key range, so within every dir the rewritten shards are
    * range-disjoint — and the partitioned staging write routes rows
    * into `k=v/` staging dirs (no per-partition jobs). `target_shards` is the TOTAL
    * output task count; size it ≈ partitions × shards-per-partition.
    * Root shards beside a partitioned layout refuse (their rows
    * aren't dir-addressable — compact into the hive layout first).
    * Single-maintenance-writer contract, same as `compact`: the
    * table-level `_rlo_lock` blocks row-level operations for the
    * duration; the swap replaces only the shards the rewrite read, so
    * APPENDS landing during the rewrite stay live. */
  private def clusterTable(catalog: GraftCatalog): BoundProcedure =
    new Bound("cluster_table", tableParam,
      ProcedureParameter.in("columns", StringType)
        .comment("comma-separated sort columns").build(),
      ProcedureParameter.in("target_shards", IntegerType).defaultValue("8")
        .comment("number of range-clustered output shards").build(),
      ProcedureParameter.in("zorder", BooleanType).defaultValue("false")
        .comment("interleave >=2 numeric columns (Morton curve) so " +
          "probes on ANY of them prune").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val tableName = input.getUTF8String(0).toString
        val (fs, table) = catalog.resolveTableDir(tableName)
        val cols = input.getUTF8String(1).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "cluster_table: no columns given")
        val nShards = math.max(1, input.getInt(2))
        val staging = new Path(table, "_cluster_staging")
        val trash = new Path(table, "_cluster_trash")
        val spark = org.apache.spark.sql.SparkSession.active
        val conf = JsonlHadoopConf.fromSession()
        val ref = (catalog.name +: tableName.split("\\.").toSeq)
          .map(p => s"`$p`").mkString(".")
        val lock = RowLevelLock.acquire(fs, conf.value, table,
          s"cluster_table-${java.util.UUID.randomUUID}")
        try {
          // discovery runs INSIDE the lock: a row-level/COW commit
          // landing between discoverFull and the swap would publish
          // shards the rewrite scan reads but `before` doesn't list —
          // the swap would leave them live beside the rewrite's copy
          // of their rows (silent duplicates)
          JsonlSnapshots.requireNoCrashedSwaps(fs, table, "cluster_table")
          // stats carry: a sort-rewrite preserves logical content
          // exactly; fresh ANALYZE stats must survive it
          val statsDone = statsCarry(catalog, tableName, fs, table)
          // pending equality deletes COMPOSE: the rewrite reads
          // through the eq-aware scan (hidden rows already dropped),
          // its outputs stamp at the current max sequence (so past
          // waves can never hide them and concurrent later waves
          // correctly outrank them), and retirement runs after the
          // swap — a cluster_table IS a reconcile
          val eqMaxCl = JsonlEqDeletes.currentSeq(fs, table)
          val layout = JsonlLayout.discoverFull(fs, table)
          val before = layout.map(_._1)
          if (before.isEmpty)
            return result(compactSchema, Nil)
          val ident = Identifier.of(
            tableName.split("\\.").init, tableName.split("\\.").last)
          val tbl = catalog.loadTable(ident)
          val partCols = tbl.partitioning().toSeq.collect {
            case t if t.name == "identity" && t.references.length == 1 =>
              t.references()(0).fieldNames().mkString(".")
          }
          val partitioned = partCols.nonEmpty
          if (partitioned) {
            // a root shard's rows aren't dir-addressable — refuse, as
            // overwrite and partition-DELETE do
            val uncovered = layout.filter(_._4.isEmpty)
            require(uncovered.isEmpty,
              s"cluster_table: ${uncovered.size} shard(s) of $tableName sit " +
                s"outside the partition layout (e.g. ${uncovered.headOption
                  .map(_._1).getOrElse("")}) — compact into the hive " +
                "layout first")
          }
          val zorder = !input.isNullAt(3) && input.getBoolean(3)
          // ----- idempotent maintenance: NO-OP when already clustered.
          // The clustered property IS file-level metadata — within
          // every partition dir (the whole table when flat) the live
          // shards' skip-index [min, max] ranges on the LEADING
          // cluster column are pairwise non-overlapping (touching at a
          // shared boundary value is fine: range repartitioning splits
          // duplicate keys across files), every live shard's entry
          // carries a VERIFIED-SORTED prefix covering the cluster
          // columns (the no-op preserves the zero-sort SPJ/ordering
          // plans, not just pruning — a range-disjoint-but-unsorted
          // layout must fall through to the rewrite or re-CALLing
          // could never establish them), the shard count is within
          // target, and no merge-on-read sidecars or pending equality
          // deletes await consolidation. This is what keeps a periodic
          // maintenance loop O(metadata) on tables that are already in
          // shape, instead of re-sorting 100 TB every cadence.
          // Z-order's multi-column interleave can't be certified from
          // ranges — it no-ops on the LAYOUT CERTIFICATE instead: the
          // spec + live-set fingerprint the last rewrite recorded
          // ([[JsonlSkipIndex.writeClusterSpec]]); any append, wave,
          // compact, or re-stamp since then changes the attempt-unique
          // shard set and fails the match.
          val qTfp = fs.makeQualified(table).toUri
          val liveRels = before.map(p =>
            qTfp.relativize(fs.makeQualified(p).toUri).getPath)
          val noPendingState =
            JsonlDeletes.index(fs, table).isEmpty &&
            JsonlEqDeletes.pendingNames(fs, table).isEmpty
          val alreadyClustered: Boolean =
            before.size <= nShards && noPendingState && {
              if (zorder)
                JsonlSkipIndex.readClusterSpec(fs, table).exists(sp =>
                  sp.zorder && sp.cols == cols &&
                    sp.fingerprint ==
                      JsonlSkipIndex.layoutFingerprint(liveRels))
              else {
              val schemaCl = tbl.schema()
              val leadKey = JsonlSkipIndex.storageKeyOf(schemaCl, cols.head)
              val wantSorted =
                cols.map(c => JsonlSkipIndex.storageKeyOf(schemaCl, c))
              schemaCl.fields.find(_.name == cols.head).map(_.dataType)
                .exists { dt =>
                  val idx = JsonlSkipIndex.open(fs, table, schemaCl)
                  val qT = fs.makeQualified(table).toUri
                  val byDir = layout.groupBy { case (p, _, _, _) =>
                    JsonlSkipIndex.dirOf(
                      qT.relativize(fs.makeQualified(p).toUri).getPath)
                  }
                  byDir.valuesIterator.forall { dirShards =>
                    val entries = dirShards.map { case (p, _, _, _) =>
                      idx.get(fs.makeQualified(p).toString)
                    }
                    entries.forall(_.exists(e =>
                      e.sorted.take(wantSorted.length) == wantSorted)) && {
                    val ranges = entries.map {
                      _.flatMap(_.stats.get(leadKey)) match {
                        case Some((mn, mx, _)) if mn != null && mx != null =>
                          (mn, mx)
                        case _ => null // unindexed/all-null: rewrite
                      }
                    }
                    ranges.forall(_ != null) && {
                      val sorted = ranges
                        .sortWith((a, b) => JsonlSkipIndex.cmp(a._1, b._1, dt) < 0)
                      sorted.iterator.zip(sorted.iterator.drop(1)).forall {
                        case ((_, mxA), (mnB, _)) =>
                          JsonlSkipIndex.cmp(mxA, mnB, dt) <= 0
                      }
                    }
                    }
                  }
                }
              }
            }
          if (alreadyClustered) {
            val qT = fs.makeQualified(table).toUri
            val rows = layout.groupBy { case (p, _, _, _) =>
              JsonlSkipIndex.dirOf(
                qT.relativize(fs.makeQualified(p).toUri).getPath)
            }.toSeq.sortBy(_._1).map { case (rel, dirShards) =>
              new GenericInternalRow(Array[Any](
                utf8(rel), dirShards.size, dirShards.size)): InternalRow
            }
            return result(compactSchema, rows)
          }
          import org.apache.spark.sql.functions.{col, max, min}
          // read through the table scan (sidecars applied), cluster +
          // sort, stage under the invisible _ dir — the path-based v2
          // write lands attempt-unique shard names that cannot collide
          // with the live ones when they move up. Partitioned: the
          // partition-col prefix of the range keys keeps each output
          // task inside one dir's key range, and the partitionBy
          // staging write routes rows into `k=v/` staging dirs.
          val base = spark.table(ref)
          val prefix = partCols.map(col)
          val clustered =
            if (!zorder)
              base.repartitionByRange(nShards, (prefix ++ cols.map(col)): _*)
                .sortWithinPartitions((prefix ++ cols.map(col)): _*)
            else {
              // Morton-curve layout ([[graft.operators.ZOrder]]): a
              // lexicographic sort clusters the FIRST column only;
              // interleaving rank-normalized bits keeps every
              // participating column's per-shard [min, max] narrow, so
              // the skip index prunes on ANY of them
              require(cols.size >= 2,
                "cluster_table: zorder needs >= 2 columns")
              val bounds = base.select(cols.flatMap(c =>
                Seq(min(col(c).cast("double")),
                  max(col(c).cast("double")))): _*).head()
              val ranges = cols.indices.map { i =>
                (Option(bounds.get(2 * i)).fold(0.0)(_.asInstanceOf[Double]),
                  Option(bounds.get(2 * i + 1)).fold(0.0)(_.asInstanceOf[Double]))
              }
              val z = graft.operators.ZOrder.zValue(
                cols.zip(ranges).map { case (c, r) => (col(c), r) },
                bitsPerCol = math.min(16, 63 / cols.size))
              val zCol = Iterator.from(0).map(i => s"__z$i")
                .find(!base.columns.contains(_)).get
              base.withColumn(zCol, z)
                .repartitionByRange(nShards, (prefix :+ col(zCol)): _*)
                .sortWithinPartitions((prefix :+ col(zCol)): _*)
                .drop(zCol)
            }
          // the staging write measures its own stats: skip columns
          // track min/max/nulls per staged file, and the VERIFY-ONLY
          // order option records each file's held sort prefix without
          // stacking a required distribution on the already-sorted
          // plan — the flags transplant onto the swapped-in shards
          // below (a scan-rebuild can't recover sortedness:
          // aggregation is order-blind)
          val tablePropsW = scala.jdk.CollectionConverters.MapHasAsScala(
            tbl.properties()).asScala.toMap
          val idxCols =
            (cols ++ JsonlSkipIndex.skipColsOf(tablePropsW)).distinct
          val w = clustered.write.format("graft-jsonl").mode("append")
            .option(JsonlSkipIndex.ColumnsProperty, idxCols.mkString(","))
            .option(JsonlTable.VerifyOrderProp,
              if (zorder) "" else cols.mkString(","))
            // the rewrite lands shards in the TABLE's at-rest format —
            // this is also the conversion path after an ALTER of
            // graft.format (the path-based staging write can't see the
            // table spec, so the option carries it)
            .option(JsonlTable.FormatProp,
              JsonlTable.formatOf(tablePropsW))
          val wc = JsonlTable.parquetWriteConf(tablePropsW)
            .foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
          (if (partitioned) wc.partitionBy(partCols: _*) else wc)
            .save(staging.toString)
          // ABORT if an upsert wave raced the rewrite: a wave whose
          // inserts were listed into `before` but whose key file
          // published after eqMaxCl was read would have its only
          // surviving copies stamped eqMaxCl < its sequence — hidden
          // by its own deletes after the swap. Tombstone stale claims
          // (their late publish now stands down), then any published
          // sequence movement or FRESH in-flight claim fails the run
          // BEFORE the swap: staging drops, the table is untouched,
          // the caller retries. A wave claiming after this check
          // renames after `before` was listed — its shards survive
          // the swap untouched.
          val staleMsCl = conf.value.getLong(JsonlSnapshots.ClaimStaleMsKey,
            JsonlSnapshots.DefaultClaimStaleMs)
          val freshClaims =
            JsonlEqDeletes.breakStaleClaims(fs, table, staleMsCl)
          if (JsonlEqDeletes.currentSeq(fs, table) != eqMaxCl ||
              freshClaims > 0) {
            fs.delete(staging, true)
            throw new IllegalStateException(
              s"cluster_table aborted: upsert wave(s) landed or are in " +
                s"flight during the rewrite of $tableName — retry when " +
                "the writers quiesce (the table is untouched)")
          }
          // swap: the PRE-rewrite shards out (appends racing the
          // rewrite stay live), the staged shards in, stamped at
          // eqMaxCl — the rewrite's rows reflect every delete <=
          // eqMaxCl, so they must be exempt from exactly those
          // sequences. The published paths certify the layout below:
          // a plain INSERT committing after the swap (appends don't
          // hold RowLevelLock) must not fold into the fingerprint, or
          // a later cluster CALL would no-op while certifying a layout
          // containing a never-clustered shard.
          val stagedRels = JsonlLayout.discoverFull(fs, staging).map {
            case (pp, _, _, _) => JsonlShards.relOf(fs, staging, pp) }
          val stagedStats =
            JsonlSkipIndex.entriesOf(fs, staging, tbl.schema()).toMap
          val publishedRels = JsonlShards.swap(fs, table, trash, before,
            stagedRels.map(r =>
              (new Path(staging, r).toString, JsonlSkipIndex.dirOf(r))),
            Map.empty, eqMaxCl)
          fs.delete(staging, true)
          val beforeByDir = liveRels.groupBy(JsonlSkipIndex.dirOf)
          val afterByDir = publishedRels.groupBy(JsonlSkipIndex.dirOf)
          val resultRows = (beforeByDir.keySet ++ afterByDir.keySet).toSeq
            .sorted.map { rel =>
              new GenericInternalRow(Array[Any](utf8(rel),
                beforeByDir.get(rel).fold(0)(_.size),
                afterByDir.get(rel).fold(0)(_.size))): InternalRow
            }
          // the old index described the replaced shards: rebuild for
          // the cluster columns plus any write-time-maintained ones,
          // then overlay the staging write's measured entries (same
          // data, plus the verified-sorted prefix — see staging write
          // above)
          fs.delete(new Path(table, JsonlSkipIndex.DirName), true)
          JsonlSkipIndex.build(spark, fs, table, ref, idxCols, Nil, 0L, 0L)
          JsonlSkipIndex.mergeEntries(fs, table,
            stagedRels.zip(publishedRels).flatMap { case (sr, pr) =>
              stagedStats.get(sr).map(pr -> _) })
          retireOutgrownKeys(fs, table, eqMaxCl)
          // layout certificate: spec + fingerprint of the shard set the
          // rewrite ITSELF published (the swap's paths, not a post-swap
          // re-listing) — the z-order no-op witness
          // (and a cheap staleness probe for maintenance reporting). A
          // racing append therefore always shows as a fingerprint
          // mismatch, so the next CALL re-clusters instead of wrongly
          // certifying. Written LAST so a crash mid-swap can never
          // leave a certificate describing a layout that was not fully
          // published.
          JsonlSkipIndex.writeClusterSpec(fs, table,
            JsonlSkipIndex.ClusterSpec(cols, zorder, nShards,
              JsonlSkipIndex.layoutFingerprint(publishedRels)))
          statsDone()
          result(compactSchema, resultRows)
        } finally RowLevelLock.release(fs, lock)
      }
    }

  /** `table_changes(table, from, to)`: the shard-grain manifest diff
    * between two snapshots (`to` defaults to the LIVE state) — one
    * row per added shard, removed shard, and common shard whose
    * embedded delete-ordinal set grew, entirely from metadata (zero
    * data I/O). The row-level feed over the same diff is
    * [[JsonlChangeFeed.between]]; this CALL is the cheap "what moved"
    * probe and the input a sync job sizes itself with. */
  private def tableChangesProc(catalog: GraftCatalog): BoundProcedure =
    new Bound("table_changes", tableParam,
      ProcedureParameter.in("from", StringType)
        .comment("snapshot version id or tag (the older endpoint)").build(),
      ProcedureParameter.in("to", StringType).defaultValue("''")
        .comment("snapshot version id or tag; empty = live state").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val tableName = input.getUTF8String(0).toString
        val (fs, table) = catalog.resolveTableDir(tableName)
        val from = input.getUTF8String(1).toString
        val to = Option(input.getUTF8String(2)).map(_.toString)
          .filter(_.nonEmpty)
        val m1 = JsonlSnapshots.load(fs, table, from)
        val m2 = to.map(JsonlSnapshots.load(fs, table, _)).getOrElse {
          val ident = Identifier.of(
            tableName.split("\\.").init, tableName.split("\\.").last)
          JsonlSnapshots.current(fs, table,
            catalog.loadTable(ident).schema())
        }
        val d = JsonlChangeFeed.diff(m1, m2)
        val rows =
          d.added.toSeq.sorted.map(rel => new GenericInternalRow(Array[Any](
            utf8("added"), utf8(rel), m2.shards(rel).len,
            m2.shards(rel).deletes.length.toLong)): InternalRow) ++
          d.removed.toSeq.sorted.map(rel => new GenericInternalRow(Array[Any](
            utf8("removed"), utf8(rel), m1.shards(rel).len,
            m1.shards(rel).deletes.length.toLong)): InternalRow) ++
          d.deltaDeletes.toSeq.sortBy(_._1).map { case (rel, ords) =>
            new GenericInternalRow(Array[Any](
              utf8("delta_deletes"), utf8(rel), m1.shards(rel).len,
              ords.length.toLong)): InternalRow } ++
          d.deltaRestores.toSeq.sortBy(_._1).map { case (rel, ords) =>
            new GenericInternalRow(Array[Any](
              utf8("delta_restores"), utf8(rel), m2.shards(rel).len,
              ords.length.toLong)): InternalRow }
        result(tableChangesSchema, rows)
      }
    }

  /** `snapshot(table, tag)`: pin the table's current state as the
    * next version — see [[JsonlSnapshots]] for the full contract
    * (manifest-only, zero data bytes copied; destructive operations
    * retain referenced shards; reads via `VERSION AS OF`). */
  private def snapshotProc(catalog: GraftCatalog): BoundProcedure =
    new Bound("snapshot", tableParam,
      ProcedureParameter.in("tag", StringType).defaultValue("''")
        .comment("optional name usable in VERSION AS OF").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val tableName = input.getUTF8String(0).toString
        val (fs, table) = catalog.resolveTableDir(tableName)
        val tag = Option(input.getUTF8String(1)).map(_.toString)
          .filter(_.nonEmpty)
        val schema = catalog.loadTable(Identifier.of(
          tableName.split("\\.").init, tableName.split("\\.").last)).schema()
        // pin under the _rlo_lock: a snapshot racing a COW swap or a
        // compaction would otherwise capture the mid-swap hole
        val conf = JsonlHadoopConf.fromSession()
        val lock = RowLevelLock.acquire(fs, conf.value, table,
          s"snapshot-${java.util.UUID.randomUUID}")
        val m =
          try JsonlSnapshots.create(fs, table, tag, schema)
          finally RowLevelLock.release(fs, lock)
        result(snapshotSchema, Seq(new GenericInternalRow(Array[Any](
          m.id, m.tag.map(utf8).orNull, m.shards.size)): InternalRow))
      }
    }

  /** `rollback_to_snapshot(table, version)`: restore the LIVE table to
    * the pinned version (id or tag) — appended shards leave (retained
    * while any manifest references them), retired shards move back
    * from `retained/`, and merge-on-read sidecars rebuild from the
    * manifest's embedded ordinals. Rolling FORWARD again is the same
    * CALL with a newer version (post-rollback manifests stay listed —
    * Iceberg's rollback semantics; `expire_snapshots` bounds history).
    * Runs under the table `_rlo_lock` like every layout-wide swap. */
  private def rollbackProc(catalog: GraftCatalog): BoundProcedure =
    new Bound("rollback_to_snapshot", tableParam,
      ProcedureParameter.in("version", StringType)
        .comment("snapshot version id or tag to restore").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val tableName = input.getUTF8String(0).toString
        val (fs, table) = catalog.resolveTableDir(tableName)
        val conf = JsonlHadoopConf.fromSession()
        val lock = RowLevelLock.acquire(fs, conf.value, table,
          s"rollback-${java.util.UUID.randomUUID}")
        // the target resolves INSIDE the lock: a concurrent
        // expire_snapshots (also lock-holding) can no longer delete
        // the manifest between resolution and the restore
        val (m, removed, restored) =
          try {
            val m0 = JsonlSnapshots.load(fs, table,
              input.getUTF8String(1).toString)
            val (rm, rs) = JsonlSnapshots.rollback(fs, table, m0)
            (m0, rm, rs)
          } finally RowLevelLock.release(fs, lock)
        result(rollbackSchema, Seq(new GenericInternalRow(
          Array[Any](m.id, removed, restored)): InternalRow))
      }
    }

  /** `evolve_partitioning(table, columns)`: Iceberg-style partition
    * spec evolution — future writes land under the new identity spec,
    * existing dirs stay readable/prunable per shard, and the OTHER
    * specs still present in the layout are recorded as legacy
    * ([[GraftCatalog.evolvePartitioning]]). A full rewrite + re-CALL
    * clears the legacy set. */
  private def evolvePartitioningProc(catalog: GraftCatalog): BoundProcedure =
    new Bound("evolve_partitioning", tableParam,
      ProcedureParameter.in("columns", StringType).defaultValue("''")
        .comment("new identity partition columns for future writes; " +
          "'' = unpartitioned").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val tableName = input.getUTF8String(0).toString
        val (fs, table) = catalog.resolveTableDir(tableName)
        val newCols = Option(input.getUTF8String(1)).map(_.toString)
          .getOrElse("").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        // the spec flip + layout derivation must not race a writer
        // mid-commit (its shards land after discovery): same tier as
        // the other layout-wide maintenance ops
        val conf = JsonlHadoopConf.fromSession()
        val lock = RowLevelLock.acquire(fs, conf.value, table,
          s"evolve-${java.util.UUID.randomUUID}")
        val legacy =
          try catalog.evolvePartitioning(tableName, newCols)
          finally RowLevelLock.release(fs, lock)
        result(evolveSchema, Seq(new GenericInternalRow(Array[Any](
          utf8(newCols.mkString(",")),
          utf8(legacy.mkString(";")))): InternalRow))
      }
    }

  private def snapshotsProc(catalog: GraftCatalog): BoundProcedure =
    new Bound("snapshots", tableParam) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (fs, table) = catalog.resolveTableDir(input.getUTF8String(0).toString)
        result(snapshotsSchema, JsonlSnapshots.list(fs, table).map { m =>
          new GenericInternalRow(Array[Any](m.id, m.tag.map(utf8).orNull,
            m.createdMs, m.shards.size)): InternalRow })
      }
    }

  private def expireSnapshotsProc(catalog: GraftCatalog): BoundProcedure =
    new Bound("expire_snapshots", tableParam,
      ProcedureParameter.in("keep_last", IntegerType).defaultValue("1")
        .comment("newest manifests to keep").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (fs, table) = catalog.resolveTableDir(input.getUTF8String(0).toString)
        // expire deletes retained/ files a CONCURRENT rollback may be
        // renaming back into the live tree (and drops manifests a
        // rollback is reading) — same single-maintenance-writer tier
        // as rollback/compact/cluster, so the interleaving serializes
        val conf = JsonlHadoopConf.fromSession()
        val lock = RowLevelLock.acquire(fs, conf.value, table,
          s"expire-${java.util.UUID.randomUUID}")
        val (mfs, files) =
          try JsonlSnapshots.expire(fs, table, input.getInt(1))
          finally RowLevelLock.release(fs, lock)
        result(expireSnapshotsSchema, Seq(new GenericInternalRow(
          Array[Any](mfs, files)): InternalRow))
      }
    }

  /** `build_skip_index(table, columns, bloom_columns, bloom_items,
    * bloom_bits)`: one distributed aggregate over the table grouped by
    * the `_shard` metadata column → per-shard min/max/null stats for
    * `columns` (comma-separated) and per-shard bloom filters for
    * `bloom_columns`, published atomically as `_skip/index.json`.
    * Every subsequent [[JsonlScan]] of the table consults it after
    * partition pruning — see [[JsonlSkipIndex]] for the staleness
    * contract (appends/compactions since the build are always read;
    * rebuilding is the maintenance cadence, like OPTIMIZE + stats). */
  private def buildSkipIndex(catalog: GraftCatalog): BoundProcedure =
    new Bound("build_skip_index", tableParam,
      ProcedureParameter.in("columns", StringType)
        .comment("comma-separated columns to min/max index").build(),
      ProcedureParameter.in("bloom_columns", StringType).defaultValue("''")
        .comment("comma-separated columns to bloom index").build(),
      ProcedureParameter.in("bloom_items", IntegerType)
        .defaultValue((1 << 20).toString)
        .comment("expected distinct items per shard").build(),
      ProcedureParameter.in("bloom_bits", IntegerType)
        .defaultValue((1 << 23).toString)
        .comment("bloom filter bits per shard").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val tableName = input.getUTF8String(0).toString
        val (fs, table) = catalog.resolveTableDir(tableName)
        def split(i: Int): Seq[String] =
          if (input.isNullAt(i)) Seq.empty
          else input.getUTF8String(i).toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val cols = split(1)
        val bloomCols = split(2)
        require(cols.nonEmpty || bloomCols.nonEmpty,
          "build_skip_index: no columns given")
        val spark = org.apache.spark.sql.SparkSession.active
        val ref = (catalog.name +: tableName.split("\\.").toSeq)
          .map(p => s"`$p`").mkString(".")
        val n = JsonlSkipIndex.build(spark, fs, table, ref, cols, bloomCols,
          input.getInt(3).toLong, input.getInt(4).toLong)
        result(skipIndexSchema,
          Seq(new GenericInternalRow(Array[Any](n))))
      }
    }

  private def expireStaging(catalog: GraftCatalog): BoundProcedure =
    new Bound("expire_staging", tableParam,
      ProcedureParameter.in("age_minutes", IntegerType).defaultValue("60")
        .comment("only attempts older than this are dropped").build()) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (fs, table) = catalog.resolveTableDir(input.getUTF8String(0).toString)
        val horizon = System.currentTimeMillis() -
          input.getInt(1).toLong * 60000L
        val stagingRoot = new Path(table, "_staging")
        val fromStaging =
          if (!fs.exists(stagingRoot)) 0
          else {
            val old = fs.listStatus(stagingRoot)
              .filter(_.getModificationTime < horizon)
            old.foreach(st => fs.delete(st.getPath, true))
            if (fs.listStatus(stagingRoot).isEmpty)
              fs.delete(stagingRoot, false)
            old.length
          }
        // crashed streaming commits also leak dot-files into the epoch
        // log (`.N.inprogress` / `.N.tmp`); past the horizon they can
        // only be leftovers — a LIVE epoch's marker is seconds old.
        // A stale `.N.inprogress` is load-bearing ONLY while the epoch's
        // durable log record is absent: it is what makes a restarted
        // query's replay of epoch N sweep the prior attempt's
        // partially-published shards. Dropping such a marker alone would
        // silently re-open that duplicate-rows window, so the expire
        // COMPLETES the cleanup the marker guards — destination shards
        // carrying that epoch's `-<queryId>-eN.jsonl.gz` suffix are
        // swept first, then the marker goes (the replay then publishes
        // into a clean slate, marker or no marker).
        // If the epoch's log record EXISTS, the epoch committed — the
        // marker is a leftover from a crash between the log rename and
        // the marker delete (commit() also retires it on replay, but a
        // never-restarted query leaves it forever). Those shards are
        // LIVE committed data: delete only the marker, never the shards.
        val logRoot = new Path(table, "_graft_stream_log")
        val Inprogress = """\.(\d+)\.inprogress""".r
        val fromLog =
          if (!fs.exists(logRoot)) 0
          else fs.listStatus(logRoot).filter(_.isDirectory).map { q =>
            val stale = fs.listStatus(q.getPath).filter { st =>
              st.getPath.getName.startsWith(".") &&
                st.getModificationTime < horizon
            }
            val orphanEpochs = stale.map(_.getPath.getName).collect {
              case Inprogress(e) if !fs.exists(new Path(q.getPath, e)) => e
            }
            if (orphanEpochs.nonEmpty) {
              val markers = orphanEpochs
                .map(e => s"-${q.getPath.getName}-e$e.jsonl.gz").toSet
              // a snapshot taken between the partial publish and this
              // expire may reference the orphans — retain, don't drop
              val referenced = JsonlSnapshots.referencedRels(fs, table)
              val qualified = fs.makeQualified(table).toUri
              JsonlLayout.discover(fs, table).map(_._1)
                .filter(p => markers.exists(p.getName.endsWith))
                .foreach { p =>
                  val rel = qualified
                    .relativize(fs.makeQualified(p).toUri).getPath
                  JsonlSnapshots.discardShard(fs, table, p, rel, referenced)
                }
            }
            stale.foreach(st => fs.delete(st.getPath, false))
            stale.length
          }.sum
        // crashed auto-snapshot commits leak pin-intent markers, which
        // correctly force every later pin to a full listing and block
        // rollback (the crashed commit's shards are in no manifest).
        // Past the horizon — the caller's dead-writer assertion, the
        // same contract staging attempts expire under — reclaim them:
        // FIRST fold the landed shards into a full-listing pin so they
        // become manifest-referenced, THEN drop the markers.
        val snapDir = JsonlSnapshots.dir(table)
        val staleIntents =
          if (!fs.exists(snapDir)) Array.empty[org.apache.hadoop.fs.FileStatus]
          else fs.listStatus(snapDir).filter(st =>
            st.getPath.getName.startsWith(".intent.") &&
              st.getModificationTime < horizon)
        val fromIntents =
          if (staleIntents.isEmpty) 0
          else {
            val parts = input.getUTF8String(0).toString.split("\\.")
            val schema = catalog
              .loadTable(Identifier.of(parts.init, parts.last)).schema()
            JsonlSnapshots.create(fs, table, None, schema)
            staleIntents.foreach(st => fs.delete(st.getPath, false))
            staleIntents.length
          }
        result(expireSchema,
          Seq(new GenericInternalRow(
            Array[Any](fromStaging + fromLog + fromIntents))))
      }
    }
}
