package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.hadoop.fs.Path

/** Keyed MERGE upsert (SURVEY.md S9).
  *
  * The reference stages to a temp table then runs a BigQuery
  * `MERGE ... WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN INSERT`
  * (reference: dags/utils/common/data_helper.py:76-106). On a plain
  * parquet lake the same result is `target ANTI-JOIN source ON pks`
  * unioned with the full source — matched rows are replaced wholesale
  * (the reference updates every column), unmatched inserted.
  *
  * Scale notes: the anti join shuffles both sides on the pk unless the
  * source is small enough to broadcast (typical for dim deltas — let
  * AQE decide). [[intoPath]] rewrites only via a staging directory and
  * atomic rename; single-writer batch semantics are documented in lieu
  * of BigQuery's transactional MERGE.
  */
object MergeUpsert {

  /** Pure form: returns target with source upserted on `pks`. */
  def apply(target: DataFrame, source: DataFrame, pks: Seq[String]): DataFrame = {
    val cols = target.columns.toSeq
    target.join(source.select(pks.map(col): _*), pks, "left_anti")
      .unionByName(source.select(cols.map(col): _*))
  }

  /** Upsert into a parquet path with staged write + swap.
    *
    * Rewrites the WHOLE table — fine for small dims, a scale-killer for
    * big partitioned ones; prefer [[intoPartitionedPath]] there.
    *
    * Crash-safe: the swap is target→__old then __staging→target, and
    * entry recovery rolls a torn swap forward (`__old` present means
    * the staged write had completed, so finishing the swap is correct;
    * `__staging` without `__old` is a dead partial write and is
    * discarded). Live data is never deleted before its replacement is
    * in place. */
  def intoPath(spark: SparkSession, path: String, source: DataFrame,
               pks: Seq[String]): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__staging")
    val old = new Path(path + "__old")
    // recovery: __old only ever exists after a COMPLETE staged write
    // (the rename below is the first target mutation), so roll forward
    if (fs.exists(old)) {
      if (!fs.exists(target)) {
        require(fs.exists(tmp), s"$old exists but neither $path nor $tmp does")
        require(fs.rename(tmp, target), s"recovery rename $tmp -> $path failed")
      }
      fs.delete(old, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true) // dead partial write
    val staged =
      if (fs.exists(target)) apply(spark.read.parquet(path), source, pks)
      else source
    staged.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(target))
      require(fs.rename(target, old), s"rename $path -> $old failed")
    require(fs.rename(tmp, target), s"rename $tmp -> $path failed")
    fs.delete(old, true)
  }

  /** Partition-scoped upsert into a table laid out
    * `partitionBy(partitionCol)`: only partitions that contain matched
    * keys (rows being replaced) or receive source rows are rewritten;
    * every other partition directory is left byte-identical.
    *
    * At 100 TB this is the difference between rewriting a day slice and
    * rewriting the table: the semi join that finds touched partitions
    * prunes to partition-count cardinality (metadata scale — collecting
    * the distinct partition VALUES to the driver is bounded by the
    * partition count, never row count), and the keep-side scan reads
    * only the touched partitions (partition filter pushed to the scan).
    *
    * Multi-partition atomicity comes from a manifest commit log (the
    * same idea as a Delta commit, reduced to one file): the staged
    * partitions land under `__merge_staging`, then a `_MERGE_MANIFEST`
    * listing every swap and stale-drop is renamed into place — THE
    * commit point — and only then does any target partition move. Every
    * post-manifest step renames live data aside into `__merge_trash`
    * (never deletes it) and is idempotent, so a crash anywhere leaves
    * one of two recoverable states: manifest absent → the target is
    * untouched and the leftovers are garbage; manifest present → the
    * merge is committed and [[recoverTornMerge]] (run automatically on
    * the next merge) rolls it FORWARD to completion. Single writer at a
    * time, as with [[intoPath]].
    *
    * The no-data-loss argument needs directory rename to be atomic —
    * true on HDFS and local filesystems, NOT on raw object stores
    * (S3A/GCS rename is copy-then-delete). Replay tolerates a torn
    * aside-rename (see `commit`), but a crash mid-copy of the swap-in
    * rename itself can expose a partial partition to readers until the
    * next recovery; on object stores front this with an atomic-commit
    * layer — [[graft.warehouse.VersionedTable]] is that layer here
    * (pointer-file commit, no data renames).
    *
    * Evaluate-once contract: `source` is evaluated exactly once per
    * call. When the table exists, it is materialized with
    * `localCheckpoint` after torn-merge recovery and before the target
    * is read, and both the touched-partition probe and the staging write
    * read that copy; when the table is absent, the create write is its
    * only reader. A source that reads this table (an SCD2 delta over the
    * current dim) therefore sees the pre-merge state. */
  def intoPartitionedPath(spark: SparkSession, path: String, source: DataFrame,
                          pks: Seq[String],
                          partitionCol: String = "partition_value"): Unit =
    intoPartitionedPath(spark, path, source, pks, partitionCol, noHook,
      reinsertSource = true)

  /** Targeted key DELETION under the same staged-manifest commit as
    * the partition-scoped merge — the "right to be forgotten" shape a
    * training-data platform owes its governance layer: `keys` (any
    * frame carrying the `pks` columns) names the rows to remove, only
    * the partitions actually holding a matching row are rewritten
    * (anti-join survivors), a partition whose every row matched is
    * dropped, and every other partition directory stays
    * byte-identical. Crash anywhere → [[recoverTornMerge]] rolls the
    * committed manifest forward, exactly like a merge. Deleting keys
    * that don't exist is a no-op (no partition rewrites at all).
    *
    * Works unchanged on any `partitionBy` layout sharing the id
    * column — the corpus AND its LSH signature index
    * ([[graft.streaming.CorpusStream.nearDupIngest]]'s
    * `ingest_batch=` partitions), so one forget call per store
    * removes a document everywhere it is derivable from. */
  def deleteFromPartitionedPath(spark: SparkSession, path: String,
                                keys: DataFrame, pks: Seq[String],
                                partitionCol: String = "partition_value"): Unit =
    intoPartitionedPath(spark, path, keys, pks, partitionCol, noHook,
      reinsertSource = false)

  /** Test seam: `beforeRename(kind, name)` fires before each commit
    * rename (kinds: manifest, swap-aside, swap-in, drop-aside) — a
    * throwing hook simulates a crash at that exact point.
    * `reinsertSource = false` turns the merge into a pure deletion:
    * `source` contributes only its key columns, nothing is unioned
    * back, and partitions are touched only via the match semi-join. */
  private[operators] def intoPartitionedPath(spark: SparkSession, path: String,
                                             source: DataFrame, pks: Seq[String],
                                             partitionCol: String,
                                             beforeRename: (String, String) => Unit,
                                             reinsertSource: Boolean): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // complete a torn prior commit / clear dead leftovers BEFORE reading
    // the target (a torn target would feed the merge stale rows)
    recoverTornMerge(spark, path)
    // a delete that removed EVERY partition leaves a husk directory
    // (markers only, no partition dirs); self-heal it to "table absent"
    // here so neither path ever feeds an unreadable directory to
    // spark.read — covers both a clean delete-all and a crash between
    // its commit and its own husk cleanup
    removeHuskIfEmpty(fs, target, partitionCol)
    if (!fs.exists(target)) {
      // a merge creates the table; a delete against a missing table
      // has nothing to forget
      if (reinsertSource) source.write.partitionBy(partitionCol).parquet(path)
      return
    }
    // evaluate the source ONCE, before the target is read: the touched-
    // partition probe and the staging write below both read this copy
    // (a lazy source would be planned and run by each). The copy lives
    // in executor block storage, never on the driver.
    val src = (if (reinsertSource) source else source.select(pks.map(col): _*))
      .localCheckpoint()
    val t = spark.read.parquet(path)
    val srcKeys = src.select(pks.map(col): _*)
    // touched = partitions holding rows the source replaces (or, for a
    // deletion, rows being removed) PLUS — merges only — partitions
    // the source writes into (an insert landing in an existing
    // partition must not clobber its resident rows) — a
    // partition-count-sized distinct either way
    val matchedParts = t.join(srcKeys, pks, "left_semi").select(col(partitionCol))
    val touchedAll = (if (reinsertSource)
        matchedParts unionByName src.select(col(partitionCol))
      else matchedParts)
      .distinct().collect().map(_.get(0))
    // a deletion whose keys match nothing touches nothing: skip the
    // staging/commit cycle entirely (true no-op)
    if (!reinsertSource && touchedAll.isEmpty) return
    val touchedRaw = touchedAll.filter(_ != null)
    val touchedHasNull = touchedAll.exists(_ == null)
    // directory names use Spark's own escaping (special chars, and the
    // __HIVE_DEFAULT_PARTITION__ null sentinel) so the swap and the
    // stale-dir cleanup match what the writer actually produced
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName _
    val touched = touchedRaw.map(v =>
      s"${esc(partitionCol)}=${esc(String.valueOf(v))}") ++
      (if (touchedHasNull) Seq(s"${esc(partitionCol)}=__HIVE_DEFAULT_PARTITION__")
       else Nil)
    // survivors inside touched partitions + all source rows; the typed
    // isin on partitionCol prunes the keep-side scan to touched
    // partitions (null partition handled explicitly — isin is never
    // true for null)
    val touchedPred =
      if (touchedHasNull)
        col(partitionCol).isin(touchedRaw.toSeq: _*) || col(partitionCol).isNull
      else col(partitionCol).isin(touchedRaw.toSeq: _*)
    val keep = t.filter(touchedPred).join(srcKeys, pks, "left_anti")
    val out =
      if (reinsertSource) keep.unionByName(src.select(t.columns.map(col): _*))
      else keep
    // stage fully (materializes out BEFORE any target mutation)...
    val tmp = stagingDir(path)
    out.write.mode("overwrite").partitionBy(partitionCol).parquet(tmp.toString)
    val stagedNames = fs.listStatus(tmp)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
      .map(_.getPath.getName).toSeq.sorted
    // a touched partition whose rows ALL matched and got no replacements
    // stages nothing — its stale live directory is dropped by the commit
    val dropNames = touched.filterNot(stagedNames.toSet).toSeq.sorted
    // ...write + rename the manifest (THE commit point)...
    val body = (stagedNames.map("swap\t" + _) ++ dropNames.map("drop\t" + _))
      .mkString("\n")
    val mTmp = new Path(tmp, ManifestName + ".tmp")
    val os = fs.create(mTmp, true)
    try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    beforeRename("manifest", ManifestName)
    require(fs.rename(mTmp, new Path(tmp, ManifestName)),
      s"manifest rename failed under $tmp")
    // ...then apply it
    commit(fs, path, stagedNames, dropNames, beforeRename)
    // a delete-all leaves no partition dirs: remove the husk so the
    // table reads as ABSENT (zero rows), not as an unreadable directory
    // of bare markers; the entry-time self-heal covers a crash landing
    // exactly here
    if (!reinsertSource) removeHuskIfEmpty(fs, target, partitionCol)
  }

  /** Delete `target` iff it exists but holds no `partitionCol=` dirs
    * and no data files — the husk a completed delete-all leaves. Never
    * touches a directory that still has any partition or parquet file. */
  private def removeHuskIfEmpty(fs: org.apache.hadoop.fs.FileSystem,
                                target: Path, partitionCol: String): Unit = {
    if (!fs.exists(target)) return
    val entries = fs.listStatus(target)
    val hasData = entries.exists(e =>
      (e.isDirectory && e.getPath.getName.startsWith(partitionCol + "=")) ||
        (e.isFile && e.getPath.getName.endsWith(".parquet")))
    if (!hasData) fs.delete(target, true)
  }

  /** Complete (roll forward) a merge that crashed mid-commit, or clear
    * dead pre-commit leftovers. Safe to call on a clean table (no-op);
    * called automatically at the top of [[intoPartitionedPath]]. */
  def recoverTornMerge(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = stagingDir(path)
    val manifest = new Path(tmp, ManifestName)
    if (fs.exists(manifest)) {
      // committed but incomplete: replay the manifest (idempotent)
      val in = fs.open(manifest)
      val body = try {
        val bytes = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, false)
        new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      val entries = body.split("\n").filter(_.nonEmpty).map(_.split("\t", 2))
      commit(fs, path,
        entries.collect { case Array("swap", n) => n }.toSeq,
        entries.collect { case Array("drop", n) => n }.toSeq, noHook)
    } else {
      // no manifest = the commit point was never reached: the target is
      // untouched and staging holds a dead partial write; trash without
      // a manifest only remains when a crash hit between the two final
      // cleanup deletes of a FULLY committed merge — pure garbage either
      // way (stale staging otherwise poisons the next dynamic-overwrite
      // staging write with leftover partitions)
      if (fs.exists(tmp)) fs.delete(tmp, true)
      val trash = trashDir(path)
      if (fs.exists(trash)) fs.delete(trash, true)
    }
  }

  /** Apply a committed manifest: swap staged partitions in and drop
    * stale ones, moving every displaced live directory aside into the
    * trash first. Idempotent — recovery replays it from any crash
    * point. */
  private def commit(fs: org.apache.hadoop.fs.FileSystem, path: String,
                     swaps: Seq[String], drops: Seq[String],
                     beforeRename: (String, String) => Unit): Unit = {
    val target = new Path(path)
    val tmp = stagingDir(path)
    val trash = trashDir(path)
    fs.mkdirs(trash)
    // aside() tolerates a half-copied trash entry from a crashed NON-
    // atomic rename (object stores copy-then-delete): trash is write-
    // only garbage until the final delete, so clearing a leftover and
    // redoing the aside is always safe — without it, replay's rename
    // would fail on the existing destination and wedge the table.
    def aside(kind: String, name: String, live: Path): Unit = {
      beforeRename(kind, name)
      val dest = new Path(trash, name)
      if (fs.exists(dest)) fs.delete(dest, true)
      require(fs.rename(live, dest), s"rename $live -> trash failed")
    }
    swaps.foreach { name =>
      val staged = new Path(tmp, name)
      if (fs.exists(staged)) { // already-swapped partitions skip (replay)
        val live = new Path(target, name)
        if (fs.exists(live)) aside("swap-aside", name, live)
        beforeRename("swap-in", name)
        require(fs.rename(staged, live), s"rename $staged -> $live failed")
      }
    }
    drops.foreach { name =>
      val live = new Path(target, name)
      if (fs.exists(live)) aside("drop-aside", name, live)
    }
    // deleting the manifest (with its staging dir) marks the commit
    // complete; the trash goes last — it only ever holds displaced
    // copies of data whose replacement is already live
    fs.delete(tmp, true)
    fs.delete(trash, true)
  }

  private def stagingDir(path: String) = new Path(path + "__merge_staging")
  private def trashDir(path: String) = new Path(path + "__merge_trash")
  private val ManifestName = "_MERGE_MANIFEST"
  private val noHook: (String, String) => Unit = (_, _) => ()
}
