package graft.sources.dsv2

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Merge-on-read tier for the graft-jsonl connector: POSITION-DELETE
  * sidecars (the Iceberg v2 merge-on-read design, re-expressed for a
  * line-oriented layout).
  *
  * A table with `graft.row-level.mode = merge-on-read` routes SQL
  * MERGE / UPDATE / row-level DELETE through Spark's DELTA-based
  * rewrite ([[org.apache.spark.sql.connector.write.SupportsDelta]],
  * planned as `WriteDelta`) instead of the group-based copy-on-write
  * rewrite: matched rows are identified by a stable row id —
  * `(_shard, _pos)`, the source shard path plus the 0-based physical
  * LINE ordinal within it — and the write lands
  *
  *   - deletions as `_deletes/<shard-rel-path>.deletes.json` sidecar
  *     files (a sorted JSON array of deleted line ordinals, one
  *     sidecar per affected shard, union-merged with any prior
  *     sidecar and published atomically), and
  *   - inserted / updated rows as ordinary staged-then-renamed append
  *     shards.
  *
  * No data shard is rewritten, ever: a MERGE touching 100 rows of a
  * 100 TB table writes ~100 rows of new shards plus a few KB of
  * sidecars, where copy-on-write rewrites every affected GROUP
  * (shard) in full. The price is read-side work — every reader
  * (batch, columnar, COUNT(*) pushdown, streaming, and the next
  * row-level operation's own rewrite scan) applies the sidecar of
  * its shard while scanning — and that debt is retired by
  * `CALL wh.system.compact(...)`, which folds sidecars into the
  * rewritten shards and drops them.
  *
  * Position stability contract: shards are immutable once published
  * (every write path stages fresh attempt-unique file names; nothing
  * appends to a live shard), so a line ordinal identifies a row for
  * the shard's whole lifetime. The ordinal counts PHYSICAL lines —
  * empty and malformed lines included — so sidecar application and
  * compaction can both skip rows without parsing a byte of JSON.
  *
  * Crash posture: the delta commit publishes insert shards first,
  * then sidecars. Both are pure ADDITIONS (nothing is deleted or
  * overwritten destructively), so a crash mid-commit can never lose
  * PRE-EXISTING data — but it CAN leave the operation half-applied
  * with a duplicate-row window: an UPDATE/MERGE whose inserts landed
  * before the crash but whose delete sidecars did not leaves BOTH the
  * old and the new copy of each affected row visible. Re-running the
  * same MERGE then sees two target rows matching one source key
  * (cardinality violation) or double-applies an accumulating update —
  * recovery is NOT a blind re-run: first remove one copy (a DELETE on
  * the old `(_shard,_pos)` ids, or a keyed dedup), then re-issue.
  * Sidecar publication itself is atomic per file (tmp +
  * rename-overwrite; see [[JsonlDeletes.append]] for the
  * no-FileContext fallback's `.bak` discipline).
  *
  * Concurrency contract: row-level operations are SINGLE-WRITER per
  * LOCK SCOPE — group (copy-on-write) commits, `CALL compact` /
  * `cluster_table` (their swaps expose a mid-swap window) and
  * `CALL snapshot` (which would otherwise pin that window as a hole)
  * take the TABLE `_rlo_lock` (atomic create-if-absent) for the whole
  * publish; delta (merge-on-read) commits and dynamic partition
  * overwrites on a PARTITIONED table lock only the partition dirs
  * they touch ([[RowLevelLock.acquireScoped]]), so partition-disjoint
  * trickle updates commit in parallel while any table-wide holder
  * still excludes them all. A second concurrent holder of a shared
  * scope REFUSES with [[ConcurrentRowLevelOperationException]] rather
  * than silently losing deletes to the sidecar read-modify-write race
  * or racing a shard swap. A lock left by a crashed driver expires after
  * `graft.rlo.lock.stale.ms` (default 15 min) and is broken by the
  * next writer. (Iceberg solves the same race with optimistic
  * metadata CAS + retry; a refusal is the honest equivalent for a
  * filesystem-only layout.) Plain INSERTs stay lock-free — they are
  * pure additions with attempt-unique names.
  *
  * Versioning boundary: MOR tables are NOT versioned — sidecars are
  * live mutable state of ONE current table, outside
  * [[graft.warehouse.VersionedTable]]'s snapshot/time-travel story
  * (whose `v=N/` parquet snapshots are a different layout entirely).
  * The two COMPOSE by materialization only: publishing
  * `spark.read.format("graft-jsonl").load(table)` through
  * `VersionedTable.publish` captures the post-delete state as an
  * immutable snapshot; the sidecars themselves never ship. There is
  * no `VERSION AS OF` for a MOR table's own history — a reader racing
  * a MOR commit sees per-file additions, not a snapshot.
  *
  * Reference anchor: the reference's keyed upsert loads
  * (dags/utils/etl.py:214-262, `load_type="upsert"`) rewrite whole
  * tables per wave; this tier is the "beyond" answer for trickle
  * updates at corpus scale. */
object JsonlDeletes {
  val DirName = "_deletes"
  val Suffix = ".deletes.json"

  private def relOf(fs: FileSystem, root: Path, p: Path): String = {
    // qualify BOTH sides: URI.relativize silently returns its argument
    // unchanged on a scheme mismatch (listStatus paths are
    // file:-qualified, hand-built ones often are not)
    val rel = fs.makeQualified(root).toUri
      .relativize(fs.makeQualified(p).toUri).getPath
    require(!rel.startsWith("/"), s"failed to relativize $p against $root")
    rel
  }

  /** Sidecar path of `shard` (which must live under `root`): the
    * shard's table-relative path mirrored below `_deletes/`, so
    * partitioned layouts keep one task's repeated shard names from
    * colliding and cleanup stays a directory drop. */
  def sidecarFor(fs: FileSystem, root: Path, shard: Path): Path =
    new Path(new Path(root, DirName), relOf(fs, root, shard) + Suffix)

  /** One recursive listing of `_deletes/` → map from QUALIFIED shard
    * path string to sidecar path string. The common case (no
    * merge-on-read activity ever) costs a single existence probe and
    * returns empty — plans and micro-batches pay nothing for the
    * feature until a sidecar exists. */
  def index(fs: FileSystem, root: Path): Map[String, String] = {
    val dir = new Path(root, DirName)
    if (!fs.exists(dir)) return Map.empty
    val out = Map.newBuilder[String, String]
    val baks = Map.newBuilder[String, String]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(Suffix)) {
        val rel = relOf(fs, root, st.getPath)
          .stripPrefix(DirName + "/").stripSuffix(Suffix)
        out += fs.makeQualified(new Path(root, rel)).toString ->
          st.getPath.toString
      } else if (st.getPath.getName.endsWith(Suffix + BakSuffix)) {
        // fallback-publish crash survivor — used only when the primary
        // sidecar is absent (see append): deletes stay applied
        val rel = relOf(fs, root, st.getPath)
          .stripPrefix(DirName + "/").stripSuffix(Suffix + BakSuffix)
        baks += fs.makeQualified(new Path(root, rel)).toString ->
          st.getPath.toString
      }
    }
    walk(dir)
    val primary = out.result()
    baks.result().filterNot { case (k, _) => primary.contains(k) } ++ primary
  }

  /** Deleted line ordinals recorded in `sidecar` (sorted on write;
    * sorted-ness is not relied on). */
  def read(fs: FileSystem, sidecar: Path): Array[Long] = {
    val in = fs.open(sidecar)
    val bytes = try in.readAllBytes() finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(bytes, StandardCharsets.UTF_8))
    require(node.isArray, s"malformed delete sidecar $sidecar")
    val it = node.elements()
    val buf = mutable.ArrayBuffer.empty[Long]
    while (it.hasNext) buf += it.next().asLong
    buf.toArray
  }

  /** Reader-side form: the sidecar as a bitset over line ordinals —
    * O(1) membership per line, bounded by the shard's line count. */
  def readBitSet(conf: JsonlHadoopConf, sidecarPath: String): java.util.BitSet = {
    val p = new Path(sidecarPath)
    val fs = p.getFileSystem(conf.value)
    val bs = new java.util.BitSet()
    read(fs, p).foreach { pos =>
      require(pos >= 0 && pos <= Int.MaxValue, s"position $pos out of range")
      bs.set(pos.toInt)
    }
    bs
  }

  /** `.bak` twin of a sidecar — the non-atomic publish fallback's
    * safety net (see [[append]]): readers prefer it only when the
    * primary is missing. */
  def bakFor(sc: Path): Path = new Path(sc.getParent, sc.getName + BakSuffix)
  val BakSuffix = ".bak"

  /** Union-merge `positions` into the shard's sidecar and publish the
    * result atomically (tmp file + rename-overwrite). On filesystems
    * without FileContext the fallback never deletes the live sidecar
    * before its replacement is in place: the old file is renamed aside
    * to `.bak`, the tmp renamed in, then the `.bak` dropped — a crash
    * at any point leaves either the primary or the `.bak` readable
    * (readers and [[index]] fall back to the `.bak` when the primary
    * is missing), so recorded deletes are never resurrected.
    * Idempotent — a replayed commit re-unions the same positions. */
  def append(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
             root: Path, shard: Path, positions: Array[Long]): Unit = {
    if (positions.isEmpty) return
    val sc = sidecarFor(fs, root, shard)
    val bak = bakFor(sc)
    val existing =
      if (fs.exists(sc)) read(fs, sc)
      else if (fs.exists(bak)) read(fs, bak) // crashed fallback publish
      else Array.empty[Long]
    val merged = (existing ++ positions).distinct.sorted
    fs.mkdirs(sc.getParent)
    val tmp = new Path(sc.getParent, s".${sc.getName}.tmp")
    val out = fs.create(tmp, true)
    out.write(merged.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8))
    out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(sc),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      fs.delete(bak, false) // stale twin from an earlier fallback crash
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        fs.delete(bak, false) // any survivor is ⊆ merged — safe to drop
        if (fs.exists(sc) && !fs.rename(sc, bak))
          throw new java.io.IOException(
            s"delete sidecar backup rename failed for $sc")
        if (!fs.rename(tmp, sc))
          throw new java.io.IOException(
            s"delete sidecar publish failed for $sc; recover from $tmp or $bak")
        fs.delete(bak, false)
    }
  }

  /** One commit's sidecar publishes, BATCHED: distinct shards write
    * distinct sidecar files, so the per-shard read-modify-writes are
    * independent and run on a bounded pool instead of serially — a
    * wide MOR DELETE touching S shards costs ~S/threads sidecar
    * round-trips of wall-clock, not S (the round-11 bench showed the
    * serial loop dominating `mor_delete` at 320 shards). Failures
    * propagate: the commit must not report success with a sidecar
    * unpublished. Runs under the caller's `_rlo_lock`, same as the
    * serial form. */
  def appendAll(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
                root: Path, byShard: Map[String, Array[Long]]): Unit = {
    val work = byShard.filter(_._2.nonEmpty)
    if (work.isEmpty) return
    if (work.size == 1) {
      val (shard, pos) = work.head
      append(fs, conf, root, new Path(shard), pos)
      return
    }
    val threads = math.min(16, work.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = work.toSeq.map { case (shard, pos) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            append(fs, conf, root, new Path(shard), pos)
        })
      }
      try futures.foreach(_.get()) // rethrows the first task failure
      catch {
        case t: Throwable =>
          // the caller's finally releases the _rlo_lock — no queued or
          // running sidecar read-modify-write may survive past that, or
          // a subsequent writer races the stragglers and loses deletes
          pool.shutdownNow()
          pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          throw t
      }
    } catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    } finally pool.shutdown()
  }
}

/** A second row-level operation tried to commit while another holds
  * the table's `_rlo_lock` — refused loudly instead of racing the
  * sidecar read-modify-write (which would silently lose deletes). */
final class ConcurrentRowLevelOperationException(table: String, holder: String)
    extends RuntimeException(
      s"concurrent row-level operation on $table refused: _rlo_lock held " +
        s"by $holder; retry after it completes (a crashed holder's lock " +
        "expires after graft.rlo.lock.stale.ms, default 15 min; set " +
        "graft.rlo.lock.acquire.wait.ms to retry with backoff instead " +
        "of failing fast)")

/** Table-level commit mutex for row-level operations: an `_rlo_lock`
  * file created atomically if absent (O_EXCL locally, create(_,
  * overwrite=false) on HDFS-like filesystems — see [[atomicCreate]])
  * holding a unique lease token.
  *
  * Liveness and safety contracts:
  *   - STALE BREAK UNDER A CLAIM: a lock whose mtime is older than
  *     `graft.rlo.lock.stale.ms` is broken only by the holder of an
  *     exclusive `_rlo_lock.break` claim (atomic create-if-absent,
  *     holding the breaker's unique token). Naive delete-then-create
  *     lets breaker B delete breaker A's FRESH lock; even
  *     rename-to-unique is unsafe, because B's staleness verdict
  *     comes from a stat of the OLD file while the rename grabs
  *     whatever sits at the path NOW. The claim closes both:
  *     create(lock, overwrite=false) can never succeed while the
  *     dead file still occupies the path, so a fresh lock can only
  *     appear after the claim holder's delete. Claim OWNERSHIP is
  *     token-verified — read back after the create, re-read before
  *     the lock delete and before the claim release — so a breaker
  *     whose claim was removed by a third party acting on a stale
  *     stat of a DEAD claim stands down instead of double-entering;
  *     stale DEAD claims themselves (a breaker crashed mid-break)
  *     are removed only after a double re-stat taken immediately
  *     before the delete.
  *   - HEARTBEAT: the holder refreshes the lock's mtime every
  *     staleMs/3 from a daemon timer, so a legitimately long
  *     operation (compact / cluster_table at scale) never goes stale
  *     under the writers it is excluding. The beat re-reads the file
  *     first and stops itself if the token no longer matches.
  *   - VERIFIED RELEASE: release() deletes the lock only if it still
  *     holds this lease's token; if the lock was broken and
  *     re-acquired, deleting it would reopen the lost-delete race the
  *     lock exists to prevent.
  *   - BOUNDED WAIT: with `graft.rlo.lock.acquire.wait.ms` > 0,
  *     contention retries with exponential backoff (via
  *     [[graft.sources.Retry]]) until the budget is spent — the knob
  *     a streaming foreachBatch MERGE sets so a concurrent
  *     `CALL compact` delays the batch instead of failing it. */
object RowLevelLock {
  val FileName = "_rlo_lock"
  /** Spec-file RMW lock (see [[acquireMeta]]). */
  val MetaFileName = "_meta_lock"
  val StaleMsKey = "graft.rlo.lock.stale.ms"
  val DefaultStaleMs: Long = 15L * 60 * 1000
  val AcquireWaitMsKey = "graft.rlo.lock.acquire.wait.ms"
  /** How long a TABLE-level acquire waits for in-flight PARTITION
    * locks to drain (they exit fast by protocol: either their commit
    * completes — commit-protocol scale — or they see the table lock
    * and stand down). */
  val DrainMsKey = "graft.rlo.lock.drain.ms"
  val DefaultDrainMs: Long = 30L * 1000
  /** Directory of partition-scoped lock files (see [[acquireScoped]]). */
  val ScopedDirName = "_rlo_locks"
  private val RetryDelayMs = 100L
  private val RetryCapMs = 2000L

  /** A held lock. `token` is the unique lease id written into the
    * file; release/heartbeat verify it so a broken-and-reacquired
    * lock is never deleted or refreshed by the previous holder. */
  final class Lease private[RowLevelLock] (
      val path: Path, val token: String,
      timer: java.util.Timer) {
    private[RowLevelLock] def cancelHeartbeat(): Unit = timer.cancel()
  }

  private def readToken(fs: FileSystem, lock: Path): String =
    try {
      val in = fs.open(lock)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    } catch { case _: Exception => "<unknown>" }

  /** Atomic create-if-absent. RawLocalFileSystem.create(overwrite =
    * false) is CHECK-then-create — two racing writers can both "win"
    * on a local (or local-mode test) table — so `file:` paths go
    * through O_EXCL (CREATE_NEW); fs.create(_, false) stays the
    * primitive for HDFS-like filesystems, where it IS atomic on the
    * namenode. */
  private[dsv2] def atomicCreate(fs: FileSystem, p: Path,
                                 content: Array[Byte]): Boolean =
    if ("file" == fs.getUri.getScheme)
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath),
          content,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case _: java.io.IOException => false }
    else
      try {
        val out = fs.create(p, false)
        out.write(content)
        out.close()
        true
      } catch {
        case _: java.io.IOException if fs.exists(p) => false
      }

  /** Retry `body` with backoff until the `waitMs` budget is spent
    * (0 = fail fast). */
  private def withWait[T](waitMs: Long)(body: => T): T = {
    if (waitMs <= 0) return body
    // how many backoff steps fit in the wait budget (100ms doubling,
    // capped at 2s — lock hold times are commit-protocol scale, so
    // sub-second reaction matters more than politeness)
    var total = 0L; var n = 0; var d = RetryDelayMs
    while (total < waitMs) { total += d; n += 1; d = math.min(d * 2, RetryCapMs) }
    graft.sources.Retry.withBackoff(
      retries = n, delayMs = RetryDelayMs, maxDelayMs = RetryCapMs)(body)
  }

  /** TABLE-level lock: excludes every other writer — scoped holders
    * included (in-flight partition locks drain first; they exit fast
    * by protocol, since a scoped acquirer that sees this lock stands
    * down, and crashed ones break at staleness). */
  def acquire(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
              table: Path, queryId: String): Lease = {
    val staleMs = conf.getLong(StaleMsKey, DefaultStaleMs)
    withWait(conf.getLong(AcquireWaitMsKey, 0L)) {
      val lease = acquireAt(fs, new Path(table, FileName), table.toString,
        queryId, staleMs)
      try { drainScoped(fs, conf, table, staleMs); lease }
      catch { case t: Throwable => release(fs, lease); throw t }
    }
  }

  /** META-file lock: serializes read-modify-write cycles on a table's
    * SPEC file (ALTER TABLE, analyze_table / convert_table props
    * publishes) so a concurrent property change committed inside
    * another writer's read→write window is never silently overwritten.
    * Deliberately does NOT drain or exclude row-level DATA writers —
    * data commits never rewrite the spec, so meta RMWs conflict only
    * with each other. Same lease / stale-break / heartbeat machinery
    * as the table lock, distinct file. */
  def acquireMeta(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
                  table: Path, queryId: String): Lease = {
    val staleMs = conf.getLong(StaleMsKey, DefaultStaleMs)
    withWait(conf.getLong(AcquireWaitMsKey, 0L)) {
      acquireAt(fs, new Path(table, MetaFileName),
        s"$table spec", queryId, staleMs)
    }
  }

  /** PARTITION-scoped locks, for operations whose mutations stay
    * inside known partition dirs (merge-on-read delta commits, dynamic
    * partition overwrite): one lock file per scope under
    * `_rlo_locks/`, acquired in sorted order (no ABBA deadlock among
    * scoped writers), then the table lock is checked — a live
    * table-level holder excludes us (we stand down; it is waiting for
    * exactly these locks to drain, so the protocol is deadlock-free).
    * Two scoped writers on DISJOINT partitions both proceed; on a
    * shared partition one refuses, same contract as the table lock.
    * Empty/unknown scopes (unpartitioned table, root shards) take the
    * table lock. */
  def acquireScoped(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
                    table: Path, queryId: String,
                    scopes: Seq[String]): Seq[Lease] = {
    if (scopes.isEmpty || scopes.contains(""))
      return Seq(acquire(fs, conf, table, queryId))
    val staleMs = conf.getLong(StaleMsKey, DefaultStaleMs)
    withWait(conf.getLong(AcquireWaitMsKey, 0L)) {
      val dir = new Path(table, ScopedDirName)
      fs.mkdirs(dir)
      val got = scala.collection.mutable.ArrayBuffer.empty[Lease]
      try {
        scopes.distinct.sorted.foreach { scope =>
          got += acquireAt(fs, new Path(dir, scopeLockName(scope)),
            s"$table partition [$scope]", queryId, staleMs)
        }
        // table-level exclusion AFTER the scoped acquisitions: a live
        // table holder either predates us (we must yield) or is
        // already draining our fresh locks (yielding unblocks it)
        val tl = new Path(table, FileName)
        val st = try Some(fs.getFileStatus(tl))
                 catch { case _: java.io.FileNotFoundException => None }
        if (st.exists(
            _.getModificationTime >= System.currentTimeMillis() - staleMs))
          throw new ConcurrentRowLevelOperationException(
            table.toString, readToken(fs, tl))
        got.toSeq
      } catch {
        case t: Throwable => got.foreach(release(fs, _)); throw t
      }
    }
  }

  def releaseAll(fs: FileSystem, leases: Seq[Lease]): Unit =
    leases.foreach(release(fs, _))

  /** Deterministic lock-file name for a partition scope (hash of the
    * partition-relative dir — path separators and escapes stay out of
    * the lock names). */
  def scopeLockName(scope: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(scope.getBytes(StandardCharsets.UTF_8))
    "p_" + d.take(8).map(b => f"$b%02x").mkString + ".lock"
  }

  /** Wait for in-flight partition locks to clear (holder of the table
    * lock only). Crashed holders' stale locks break via the same
    * claim machinery; live ones get `graft.rlo.lock.drain.ms`
    * (default 30 s) to finish or stand down before this acquire
    * refuses. */
  private def drainScoped(fs: FileSystem,
                          conf: org.apache.hadoop.conf.Configuration,
                          table: Path, staleMs: Long): Unit = {
    val dir = new Path(table, ScopedDirName)
    if (!fs.exists(dir)) return
    val deadline = System.currentTimeMillis() +
      conf.getLong(DrainMsKey, DefaultDrainMs)
    while (true) {
      val live = fs.listStatus(dir)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".lock"))
      if (live.isEmpty) return
      val (fresh, stale) = live.partition(
        _.getModificationTime >= System.currentTimeMillis() - staleMs)
      // a stale scoped lock = crashed partition commit: break it by
      // acquiring (claim protocol included) and releasing
      stale.foreach { st =>
        try release(fs, acquireAt(fs, st.getPath, st.getPath.toString,
          "drain", staleMs))
        catch { case _: ConcurrentRowLevelOperationException => () }
      }
      if (fresh.nonEmpty) {
        if (System.currentTimeMillis() > deadline)
          throw new ConcurrentRowLevelOperationException(table.toString,
            readToken(fs, fresh.head.getPath))
        Thread.sleep(50)
      }
    }
  }

  private def acquireAt(fs: FileSystem, lock: Path, what: String,
                        queryId: String, staleMs: Long): Lease = {
    val token = s"$queryId#${java.util.UUID.randomUUID()}"
    def tryCreate(): Boolean =
      atomicCreate(fs, lock, token.getBytes(StandardCharsets.UTF_8))
    def won(): Lease = {
      val timer = new java.util.Timer("graft-rlo-lock-heartbeat", true)
      val period = math.max(staleMs / 3, 1000L)
      timer.scheduleAtFixedRate(new java.util.TimerTask {
        override def run(): Unit =
          try {
            if (readToken(fs, lock) == token)
              fs.setTimes(lock, System.currentTimeMillis(), -1)
            else timer.cancel() // lock broken + re-acquired: not ours
          } catch { case scala.util.control.NonFatal(_) => }
      }, period, period)
      new Lease(lock, token, timer)
    }
    if (tryCreate()) return won()
    val st = try Some(fs.getFileStatus(lock))
             catch { case _: java.io.FileNotFoundException => None }
    val stale = st.forall(
      _.getModificationTime < System.currentTimeMillis() - staleMs)
    if (stale) {
      // break the dead holder's lock under an exclusive breaker CLAIM
      // (see the object scaladoc): of N concurrent breakers exactly
      // one OWNS the claim — ownership is a unique token written into
      // the claim file and verified by READ-BACK after the create (the
      // same verified-release pattern the lock itself uses), so a
      // breaker whose claim was deleted out from under it (by another
      // breaker acting on a stale stat of a DEAD claim) stands down
      // instead of double-entering the break section. A claim whose
      // own mtime is stale belongs to a breaker that died mid-break;
      // its verdict is re-taken immediately before the delete to
      // shrink the stat→delete window to adjacent calls.
      val claim = new Path(lock.getParent, s"${lock.getName}.break")
      val claimToken = s"$token/break"
      def claimStale(): Boolean =
        (try Some(fs.getFileStatus(claim))
         catch { case _: java.io.FileNotFoundException => None })
          .exists(_.getModificationTime < System.currentTimeMillis() - staleMs)
      if (claimStale() && claimStale()) fs.delete(claim, false)
      val gotClaim =
        atomicCreate(fs, claim, claimToken.getBytes(StandardCharsets.UTF_8)) &&
          readToken(fs, claim) == claimToken
      if (gotClaim) {
        try {
          val st2 = try Some(fs.getFileStatus(lock))
                    catch { case _: java.io.FileNotFoundException => None }
          // final ownership check right before the only destructive
          // step: if the claim no longer holds our token, another
          // breaker owns the break — touching the lock now could
          // delete THEIR freshly re-acquired lock
          if (st2.exists(
              _.getModificationTime < System.currentTimeMillis() - staleMs) &&
              readToken(fs, claim) == claimToken)
            fs.delete(lock, false)
        } finally {
          if (readToken(fs, claim) == claimToken) fs.delete(claim, false)
        }
        if (tryCreate()) return won()
      }
    }
    throw new ConcurrentRowLevelOperationException(
      what, readToken(fs, lock))
  }

  def release(fs: FileSystem, lease: Lease): Unit = {
    lease.cancelHeartbeat()
    // verify-then-delete: if our lock went stale and another writer
    // broke + re-acquired it, the file now holds THEIR token — leave
    // it, or we'd strip their exclusivity mid-commit
    if (readToken(fs, lease.path) == lease.token)
      fs.delete(lease.path, false)
  }
}

/** One SQL MERGE/UPDATE/DELETE against a merge-on-read table: Spark's
  * delta-based rewrite (`RewriteDeleteFromTable` /
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` over
  * [[org.apache.spark.sql.connector.write.SupportsDelta]]) identifies
  * each affected row by the `(_shard, _pos)` row id and hands this
  * operation a stream of per-row DELETE / UPDATE / INSERT calls
  * instead of whole replacement groups.
  *
  * The scan side reuses the ordinary [[JsonlScanBuilder]] — filter
  * pushdown INCLUDED: unlike the copy-on-write scan (which must
  * return every row of a participating group), a delta scan only
  * needs the rows Spark's rewrite itself asks for, and Spark pushes
  * exactly the condition that is safe for the command — so a
  * MOR DELETE over one partition of a 100 TB table prunes to that
  * partition instead of group-rewriting it. */
final class JsonlMorRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    tableSchema: StructType, path: String, partCols: Seq[String],
    skipCols: Seq[String] = Nil, autoSnapshot: Boolean = false,
    format: String = "jsonl",
    parquetConf: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {
  import org.apache.spark.sql.connector.read.ScanBuilder
  import org.apache.spark.sql.util.CaseInsensitiveStringMap

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String =
    s"graft-jsonl $cmd (merge-on-read, position deletes)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlScanBuilder(tableSchema, path)

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column("_shard"),
      org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty // the row id carries everything the write needs

  /** UPDATE arrives as one `update(meta, id, row)` call per row; the
    * writer splits it into delete(id) + insert(row) itself (an insert
    * routed by the row's CURRENT partition values, so an UPDATE that
    * moves a row across partitions lands it in the right directory). */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new JsonlDeltaWrite(
          JsonlTable.withFieldMeta(tableSchema, info.schema()),
          info.rowIdSchema().orElse(null), path, info.queryId(), partCols,
          skipCols, autoSnapshot, format, parquetConf)
    }
}

final class JsonlDeltaWrite(rowSchema: StructType, rowIdSchema: StructType,
                            path: String, queryId: String,
                            partCols: Seq[String],
                            skipCols: Seq[String] = Nil,
                            autoSnapshot: Boolean = false,
                            format: String = "jsonl",
                            parquetConf: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.DeltaWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}

  // Cluster + sort the delta relation by the table's partition columns
  // (when the write schema carries them — a pure DELETE's schema has no
  // row columns to resolve against). The delta writer's insert path is
  // the roll-on-key-change partitioned writer: ONE open file, closed
  // whenever the partition value changes. Without a required ordering a
  // MERGE's insert rows arrive in arbitrary partition order and the
  // writer lands one shard per VALUE RUN — measured one file per row on
  // a MERGE over a priority-partitioned table (~51k shards for ~51k
  // inserted rows at sf0.1), each of which then costs a sidecar
  // read-modify-write per later delete and a per-file move at compact.
  // The clustered distribution + within-task sort is exactly what the
  // ordinary insert path (JsonlWriteBuilder.build) already requires —
  // this extends the same contract to MERGE/UPDATE row-level writes.
  // Delete-only rows carry null partition columns and cluster together;
  // they produce no files, only per-shard ordinal lists, so their
  // placement is irrelevant. At scale the same property bounds shard
  // count by (tasks x partition values seen), not inserted rows.
  private def orderable: Seq[String] = {
    val rowPart =
      if (rowSchema == null) Nil
      else partCols.filter(rowSchema.fieldNames.contains)
    // no partition columns in the write schema = nothing to cluster
    // FOR: a pure DELETE (or an unpartitioned table) emits no routed
    // files, and its deletes are already naturally grouped by source
    // shard (scan task == shard) — requiring a distribution there would
    // ADD a shuffle of (shard, pos) pairs that buys nothing
    if (rowPart.isEmpty) return Nil
    // rowId columns (resolved by NAME from the declared rowId schema)
    // ride along after the partition columns: inserts carry null rowIds
    // (constant — does not disturb the partition clustering), while
    // pure-DELETE rows carry null partition columns and would otherwise
    // all hash to the single null cluster — a one-task delete stream on
    // a delete-heavy MERGE. Spreading them by source shard keeps delete
    // placement balanced AND groups each shard's ordinals in one task.
    // _shard clusters; _pos joins only the ORDERING (clustering on a
    // per-row-unique ordinal would scatter one shard's ordinals over
    // every task — the opposite of grouping them)
    val shardCol =
      if (rowIdSchema == null) Nil
      else rowIdSchema.fieldNames.find(_ == "_shard").toSeq
    rowPart ++ shardCol
  }
  private def orderingCols: Seq[String] =
    orderable ++ (if (rowIdSchema == null) Nil
                  else rowIdSchema.fieldNames.find(_ == "_pos").toSeq)
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (orderable.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        orderable.map(c => Expressions.identity(c)
          : org.apache.spark.sql.connector.expressions.Expression).toArray)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    (if (orderable.isEmpty) Nil else orderingCols).map(c =>
      Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
      .toArray
  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
    new JsonlDeltaBatchWrite(rowSchema, rowIdSchema, path, queryId, partCols,
      skipCols, autoSnapshot, format, parquetConf)
}

/** Commit protocol for one delta write: insert shards publish first
  * (staged → rename, the append-write discipline), THEN the merged
  * per-shard position sets land as sidecars. Additions only — see
  * [[JsonlDeletes]] for the crash posture. */
final class JsonlDeltaBatchWrite(rowSchema: StructType, rowIdSchema: StructType,
                                 path: String, queryId: String,
                                 partCols: Seq[String],
                                 skipCols: Seq[String] = Nil,
                                 autoSnapshot: Boolean = false,
                                 format: String = "jsonl",
                                 parquetConf: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  import org.apache.spark.sql.connector.write._

  private val conf = JsonlHadoopConf.fromSession(parquetConf)
  private def fs = new Path(path).getFileSystem(conf.value)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = new JsonlDeltaWriterFactory(
    rowSchema, rowIdSchema, path, queryId, conf, partCols, skipCols, format)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val f = fs
    val dest = new Path(path)
    f.mkdirs(dest)
    val msgs = messages.map(_.asInstanceOf[JsonlDeltaCommitMessage])
    // single-writer enforcement: the whole publish (insert renames +
    // sidecar read-modify-writes) runs under the table's lock — SCOPED
    // to the touched partition dirs when every mutation stays inside
    // known dirs, so partition-disjoint MOR commits proceed in
    // parallel; unpartitioned/root-shard mutations take the table
    // lock (auto-snapshot pins are lock-free claim-CAS and impose
    // nothing here). A concurrent holder of a shared scope refuses
    // with a named error instead of losing deletes to the sidecar
    // merge race.
    val scopes: Seq[String] =
      if (partCols.isEmpty) Nil
      else {
        val insertDirs = msgs.toSeq.flatMap(_.staged).map(_._2)
        val deleteDirs = msgs.toSeq.flatMap(_.deletes.keys).map { shard =>
          val rel = JsonlShards.relOf(f, dest, new Path(shard))
          val i = rel.lastIndexOf('/')
          if (rel.startsWith("/") || i < 0) "" else rel.substring(0, i)
        }
        (insertDirs ++ deleteDirs).distinct
      }
    val locks = RowLevelLock.acquireScoped(f, conf.value, dest, queryId, scopes)
    try {
      // equality-delete tier: MERGE-inserted rows on a table with eq
      // history stamp at the CURRENT max sequence, or past waves
      // would hide them (JsonlEqDeletes sequence rule); 0 → identity
      val added = JsonlShards.publish(f, dest, msgs.toSeq.flatMap(_.staged),
        msgs.flatMap(_.stats).toMap, JsonlEqDeletes.currentSeq(f, dest),
        sized = autoSnapshot)
      JsonlDeletes.appendAll(f, conf.value, dest,
        msgs.flatMap(_.deletes.toSeq)
          .groupBy(_._1).view.mapValues(_.flatMap(_._2).toArray).toMap)
      // auto-snapshot (graft.snapshot.auto): pin THIS delta commit as
      // a version — the change feed sees the MERGE/UPDATE/DELETE as
      // its own CDC batch. The pin is a lock-free claim-CAS rebase of
      // the commit's exact delta (insert shards + new delete
      // ordinals), INSIDE the scoped locks so same-partition pins
      // order with their sidecar state; partition-disjoint writers'
      // pins serialize only at the milliseconds-long claim window,
      // never at the table lock
      if (autoSnapshot) {
        val ords = msgs.toSeq.flatMap(_.deletes.toSeq)
          .groupBy(_._1).map { case (shard, xs) =>
            JsonlShards.relOf(f, dest, new Path(shard)) -> xs.flatMap(_._2).toArray
          }
        JsonlSnapshots.autoPin(f, conf.value, dest, rowSchema,
          Some(JsonlSnapshots.PinDelta(added, ords, Set.empty)))
      }
    } finally RowLevelLock.releaseAll(f, locks)
    JsonlShards.cleanupStaging(f, dest, queryId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    JsonlShards.cleanupStaging(fs, new Path(path), queryId)
}

final class JsonlDeltaWriterFactory(rowSchema: StructType,
                                    rowIdSchema: StructType,
                                    path: String, queryId: String,
                                    conf: JsonlHadoopConf,
                                    partCols: Seq[String],
                                    skipCols: Seq[String] = Nil,
                                    format: String = "jsonl")
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new JsonlDeltaWriter(rowSchema, rowIdSchema, path, queryId,
      partitionId, taskId, conf, partCols, skipCols, format)
}

/** Executor-side delta writer: inserts stream through the ordinary
  * staged shard writers (partition-routing included); deletes
  * accumulate as per-shard position lists shipped in the commit
  * message — a few longs per deleted row, not the row itself. */
final class JsonlDeltaWriter(rowSchema: StructType, rowIdSchema: StructType,
                             path: String, queryId: String,
                             partitionId: Int, taskId: Long,
                             conf: JsonlHadoopConf, partCols: Seq[String],
                             skipCols: Seq[String] = Nil,
                             format: String = "jsonl")
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  // LAZY: a pure DELETE's write schema carries no row columns (there
  // is nothing to insert), so the partition-routing writer — which
  // resolves partCols against the schema — must not be built unless a
  // row actually arrives
  private lazy val inserts =
    new JsonlPartitionedDataWriter(rowSchema, path, queryId,
      partitionId, taskId, conf, partCols, skipCols, format = format)
  private var insertsUsed = false

  // rowId projection order follows the declared rowId() array, but
  // resolve by NAME when Spark hands us the schema — order is then a
  // fact, not an assumption
  private val (shardIdx, posIdx) =
    if (rowIdSchema == null) (0, 1)
    else (rowIdSchema.fieldIndex("_shard"), rowIdSchema.fieldIndex("_pos"))

  private val deletes = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    deletes.getOrElseUpdate(id.getUTF8String(shardIdx).toString,
      mutable.ArrayBuffer.empty[Long]) += id.getLong(posIdx)

  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    insertsUsed = true
    inserts.write(row)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val inner =
      if (insertsUsed) inserts.commit()
      else JsonlCommitMessage(Seq.empty)
    JsonlDeltaCommitMessage(inner.staged,
      deletes.view.mapValues(_.toArray).toMap, inner.stats)
  }

  override def abort(): Unit = if (insertsUsed) inserts.abort()
  override def close(): Unit = if (insertsUsed) inserts.close()
}

/** Staged insert shards plus this task's deleted positions, keyed by
  * the qualified shard path the rows were read from. */
final case class JsonlDeltaCommitMessage(
    staged: Seq[(String, String)],
    deletes: Map[String, Array[Long]],
    stats: Map[String, JsonlSkipIndex.ShardWriteStats] = Map.empty)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage
