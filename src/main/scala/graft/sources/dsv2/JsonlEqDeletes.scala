package graft.sources.dsv2

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** EQUALITY-delete tier for `graft-jsonl` tables — Iceberg v2's
  * equality deletes re-expressed for this layout, the piece that makes
  * a keyed streaming upsert sink O(|delta|) instead of O(target):
  *
  *   - a table declaring `graft.upsert.keys = 'k'`
  *     ([[JsonlTable.UpsertKeysProp]]) turns every plain APPEND commit
  *     into an upsert wave: the commit publishes ONE key file
  *     `_eq_deletes/s<SEQ>.json` holding the batch's distinct key
  *     tuples (collected by the writer tasks as rows stream through —
  *     the target is never scanned, never locked), then lands its
  *     insert shards stamped `-eqs<SEQ>` in the shard NAME;
  *   - an equality delete with sequence S hides every matching-key row
  *     in shards whose stamp is < S (unstamped legacy shards read as
  *     0); the wave's own inserts carry stamp S, so they are exempt —
  *     exactly Iceberg's sequence-number rule, with the sequence
  *     carried in the file name instead of manifest metadata;
  *   - readers apply the rule per ROW: the planner loads the key→maxSeq
  *     map once (driver, O(pending keys)), ships it with the reader
  *     factory, and the row reader drops matches after position-delete
  *     filtering — pushed filters and aggregates see exactly the
  *     upserted state;
  *   - `CALL compact` RECONCILES: shards exposed to pending deletes are
  *     rewritten without the hidden rows and re-stamped at the current
  *     max sequence; key files no live shard is exposed to are
  *     retired. Reader-side memory is bounded by compaction cadence,
  *     like Iceberg's delete-file compaction.
  *
  * SEQUENCE ASSIGNMENT is the same claim-CAS as snapshot pins: atomic
  * creation of `s<SEQ>.claim` wins the number (retry on collision), the
  * key file publishes via tmp+rename, the claim drops. Sequences are
  * NEVER reused: a stale claim (crashed wave) is renamed — atomically —
  * to a `s<SEQ>.dropped` tombstone after
  * [[JsonlSnapshots.DefaultClaimStaleMs]], and claim assignment counts
  * published files, live claims, AND tombstones, so at every instant
  * the number stays occupied under one of the three names. A stalled
  * wave that outlives its claim therefore still owns a unique sequence
  * and simply completes late — there is no same-sequence overwrite to
  * guard against. Tombstones are folded into the hwm (and removed) by
  * [[retire]].
  *
  * THE KEY FILE IS THE WAVE'S COMMIT POINT, published LAST — after
  * every insert shard has renamed in ([[JsonlBatchWrite.commit]] /
  * the streaming epoch commit). A crash mid-wave leaves the wave's
  * stamped inserts visible WITHOUT their deletes: transient duplicates
  * (old row + new row), never loss — and the retry's own wave, at a
  * strictly higher sequence over the same keys, hides both the old
  * rows and the orphaned first-attempt inserts, converging to
  * exactly-once. (The inverse order — deletes before inserts — would
  * make a crash silently vanish matched target rows, which is why it
  * is forbidden here; same discipline as `MergeUpsert`'s
  * `_MERGE_MANIFEST`.)
  *
  * COEXISTENCE: the tier composes with position deletes (MOR), COW
  * rewrites, and overwrites — every writer stamps new shards at the
  * table's current max sequence, so rewritten/appended rows are never
  * hidden by PAST waves. Snapshots compose DIRECTLY: a manifest embeds
  * the key files pending at pin time ([[JsonlSnapshots.Manifest]]
  * `eqFiles`), pinned scans load exactly those (live-first, retained/
  * fallback — `CALL compact`'s retirement retains manifest-referenced
  * key files like shards), rollback restores the pinned equality set,
  * and auto-snapshot waves pin their own key file as part of their
  * delta. cluster_table composes too: its rewrite reads through the
  * eq-aware scan, stamps outputs at the current max sequence, and
  * retires afterwards — a sort-rewrite IS a reconcile. */
object JsonlEqDeletes {
  val DirName = "_eq_deletes"

  /** Key file names are `s<SEQ>.json` or `s<SEQ>-<tag>.json`: the
    * optional WRITER TAG lets a streaming epoch replay find and roll
    * back its crashed prior attempt's key file (the inserts are swept
    * by the shard-name epoch marker; sweeping the inserts while
    * leaving the key file would create the deletes-without-inserts
    * state the publish-last protocol forbids). */
  private val FileName = """s(\d+)(?:-[^.]+)?\.json""".r
  private val ClaimName = """s(\d+)\.claim""".r
  /** Tombstone of a crashed wave's claim: keeps its sequence number
    * occupied forever (until [[retire]] folds it into the hwm), so a
    * sequence can never be reassigned while orphan shards stamped with
    * it exist — reassignment would exempt those orphans from the new
    * wave's deletes. */
  private val DroppedName = """s(\d+)\.dropped""".r
  /** Shard-name stamp: `...-eqs<SEQ>.jsonl[.gz]` / `...-eqs<SEQ>.parquet`. */
  private val Stamp = """-eqs(\d+)\.(jsonl(?:\.gz)?|parquet)$""".r

  /** Rendered-tuple separator (and the null marker) — \u0001 can't
    * appear in a JSON-decoded scalar rendering. */
  private val Sep = "\u0001"
  private val NullMark = "\u0000"

  def dir(table: Path): Path = new Path(table, DirName)
  /** Name of wave `seq`'s key file (`tag`: a streaming epoch's) — the
    * name manifests record in `eqFiles`. */
  def keyFileName(seq: Long, tag: String = null): String =
    if (tag == null) s"s$seq.json" else s"s$seq-$tag.json"
  private def keyFile(table: Path, seq: Long, tag: String = null): Path =
    new Path(dir(table), keyFileName(seq, tag))
  private def claimFile(table: Path, seq: Long): Path =
    new Path(dir(table), s"s$seq.claim")
  private def droppedFile(table: Path, seq: Long): Path =
    new Path(dir(table), s"s$seq.dropped")

  /** Sequence high-water mark, surviving full retirement: shard
    * stamps outlive the key files they were exempt from, so a LATER
    * wave's sequence must never regress below an old stamp (the rule
    * `stamp < seq` would exempt pre-wave shards). Written by
    * [[retire]], read by [[claimNext]]. */
  private def hwmFile(table: Path): Path = new Path(dir(table), "hwm")

  private def hwmTmpFile(table: Path): Path = new Path(dir(table), ".hwm.tmp")

  private def readHwm(fs: FileSystem, table: Path): Long = {
    def parse(p: Path): Long =
      try {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        new String(bytes, StandardCharsets.UTF_8).trim.toLong
      } catch { case _: Exception => 0L }
    // the tmp staging copy is AUTHORITATIVE when larger: the publish
    // fallback for filesystems without FileContext atomic replace
    // (object stores) deletes the old hwm before renaming the tmp into
    // place, and a crash in that window would otherwise read as hwm=0
    // — letting a later wave re-claim a retired sequence whose deletes
    // then silently skip shards stamped at or above it. The tmp is
    // fully written and closed BEFORE the old hwm is deleted, and hwm
    // values are monotone, so max() is always sound (a torn read of a
    // tmp still being written can only underreport, and the live hwm
    // file still covers that instant).
    math.max(parse(hwmFile(table)), parse(hwmTmpFile(table)))
  }

  /** Any UNRECONCILED key file present? The refusal predicate for
    * surfaces that can't see equality state (snapshot pins, rollback,
    * cluster_table) — a fully reconciled table (stamps + hwm only)
    * composes with all of them. */
  def hasPending(fs: FileSystem, table: Path): Boolean = {
    val d = dir(table)
    fs.exists(d) && fs.listStatus(d).exists(st =>
      FileName.findFirstMatchIn(st.getPath.getName).isDefined)
  }

  /** The sequence stamped into a shard name; 0 for unstamped. */
  def shardSeqOf(name: String): Long =
    Stamp.findFirstMatchIn(name).map(_.group(1).toLong).getOrElse(0L)

  /** `part-....jsonl.gz` → `part-...-eqs<seq>.jsonl.gz` (same for
    * `.parquet`; identity for seq 0; an existing stamp is REPLACED —
    * the reconcile fast path re-stamps shards in place). */
  def stampName(name: String, seq: Long): String = {
    if (seq <= 0L) return name
    val stripped = Stamp.findFirstMatchIn(name) match {
      case Some(m) => name.substring(0, m.start) + "." + m.group(2)
      case None => name
    }
    if (stripped.endsWith(".jsonl.gz"))
      stripped.stripSuffix(".jsonl.gz") + s"-eqs$seq.jsonl.gz"
    else if (stripped.endsWith(".jsonl"))
      stripped.stripSuffix(".jsonl") + s"-eqs$seq.jsonl"
    else if (stripped.endsWith(".parquet"))
      stripped.stripSuffix(".parquet") + s"-eqs$seq.parquet"
    else name
  }

  /** (published max seq, claim/tombstone max seq) from NAMES only;
    * (0, 0) with a single existence probe when the tier was never
    * used. */
  def maxSeqs(fs: FileSystem, table: Path): (Long, Long) = {
    val d = dir(table)
    if (!fs.exists(d)) return (0L, 0L)
    var pub = 0L; var cl = 0L
    fs.listStatus(d).foreach(st => st.getPath.getName match {
      case FileName(n) => pub = math.max(pub, n.toLong)
      case ClaimName(n) => cl = math.max(cl, n.toLong)
      case DroppedName(n) => cl = math.max(cl, n.toLong)
      case _ => ()
    })
    (pub, cl)
  }

  /** Current published max sequence — what NEW shards stamp. */
  def currentSeq(fs: FileSystem, table: Path): Long = maxSeqs(fs, table)._1

  /** Claim the next sequence (CAS on the claim file). A stale claim
    * from a crashed wave is TOMBSTONED (atomic rename to `.dropped`) —
    * never deleted — so its number stays occupied at every instant and
    * can never be reassigned to a different wave (orphan shards
    * stamped with it would be wrongly exempt from the new wave's
    * deletes). The sequence is therefore monotone across crashes; a
    * stalled-but-alive wave keeps sole ownership of its number and
    * just publishes late. */
  def claimNext(fs: FileSystem, table: Path, staleMs: Long): Long =
    claimNextWithToken(fs, table, staleMs)._1

  /** [[claimNext]] returning the claim's unique token too — callers
    * thread it into [[publish]], which re-verifies the claim file
    * still holds it IMMEDIATELY before (and after) publishing: the
    * residual double-claim window on last-writer-wins object stores
    * (both waves read back the same overwritten token) is then
    * detected at publish time — exactly one wave's token survives in
    * the claim file, the other stands down loudly — instead of relying
    * on rename-onto-existing failing, which object stores don't
    * guarantee. */
  def claimNextWithToken(fs: FileSystem, table: Path, staleMs: Long)
      : (Long, Array[Byte]) = {
    fs.mkdirs(dir(table))
    var attempts = 0
    while (attempts < 1000) {
      attempts += 1
      val d = dir(table)
      val now = System.currentTimeMillis()
      var maxAll = readHwm(fs, table)
      // one listing: published sequences first (key files may carry a
      // writer tag, so per-claim existence probes can't see them),
      // then claims judged against that set
      val sts = fs.listStatus(d)
      val published = sts.iterator.map(_.getPath.getName).collect {
        case FileName(n) => n.toLong }.toSet
      sts.foreach { st =>
        st.getPath.getName match {
          case FileName(n) => maxAll = math.max(maxAll, n.toLong)
          case DroppedName(n) => maxAll = math.max(maxAll, n.toLong)
          case ClaimName(n) =>
            maxAll = math.max(maxAll, n.toLong)
            // a claim without its key file, older than the budget, is
            // a crashed wave: tombstone it so its holder (if secretly
            // alive) stands down at publish and the number can't
            // stall others
            if (!published(n.toLong) &&
                now - st.getModificationTime > staleMs)
              fs.rename(st.getPath, droppedFile(table, n.toLong))
          case _ => ()
        }
      }
      val seq = maxAll + 1L
      // the claim carries a UNIQUE token: on filesystems without an
      // atomic create-if-absent (object stores — witnessed by the
      // ObjectStoreSemanticsSpec shim), two waves can both pass the
      // create's existence check and "win" the same sequence with
      // last-writer-wins content. The read-back below lets exactly one
      // of them keep the number (the one whose token survived); the
      // loser re-lists at the next sequence. The residual window —
      // the loser overwriting between the winner's write and read-back
      // — is microseconds and, if ever hit, still converges LOUDLY:
      // publish's rename-onto-existing fails for the second wave and
      // the stood-down retry lands at a fresh sequence.
      val token = java.util.UUID.randomUUID().toString
        .getBytes(StandardCharsets.UTF_8)
      if (RowLevelLock.atomicCreate(fs, claimFile(table, seq), token)) {
        val mine =
          try {
            val in = fs.open(claimFile(table, seq))
            try java.util.Arrays.equals(in.readAllBytes(), token)
            finally in.close()
          } catch { case _: Exception => false }
        // GHOST-claim re-verify: a full claim→publish→release cycle of
        // this same sequence may have run entirely between our listing
        // and the create — release DELETES the claim file, so the
        // O_EXCL create succeeds on history it never saw, and two
        // waves would publish the same key file (witnessed: the racing
        // -wave soak's rename-onto-existing-target failure). The key
        // file / tombstone is the durable evidence; if either exists
        // the claim is a ghost — drop it (no shard is stamped yet) and
        // re-list.
        // (the hwm re-read closes the retire race: retire covers a key
        // file with the hwm BEFORE removing it, so one of the two
        // checks always sees a consumed sequence)
        val taken = !mine || readHwm(fs, table) >= seq ||
          fs.listStatus(d).exists(st =>
            st.getPath.getName match {
              case FileName(n) => n.toLong == seq
              case DroppedName(n) => n.toLong == seq
              case _ => false
            })
        if (!taken) return (seq, token)
        // a lost token race must NOT delete the winner's claim; a
        // ghost (both checks below the token one) is ours to drop
        if (mine) fs.delete(claimFile(table, seq), false)
      }
    }
    throw new IllegalStateException(
      s"equality-delete sequence claim on $table: 1000 collisions")
  }

  /** Release wave `seq`'s claim. If the wave never published its key
    * file (a failed commit — rename threw mid-wave, or the publish
    * itself failed), the claim becomes a tombstone instead: stamped
    * orphan shards may exist, so the number must stay retired. */
  def releaseClaim(fs: FileSystem, table: Path, seq: Long,
                   tag: String = null): Unit = {
    if (fs.exists(keyFile(table, seq, tag)))
      fs.delete(claimFile(table, seq), false)
    else
      fs.rename(claimFile(table, seq), droppedFile(table, seq))
    ()
  }

  /** Tombstone stale claims (same rule as [[claimNext]]) and return
    * how many FRESH (in-flight) wave claims remain — maintenance that
    * cannot tolerate a wave racing its swap (cluster_table) refuses
    * while any exist. */
  def breakStaleClaims(fs: FileSystem, table: Path, staleMs: Long): Int = {
    val d = dir(table)
    if (!fs.exists(d)) return 0
    val now = System.currentTimeMillis()
    val sts = fs.listStatus(d)
    val published = sts.iterator.map(_.getPath.getName).collect {
      case FileName(n) => n.toLong }.toSet
    var fresh = 0
    sts.foreach(st => st.getPath.getName match {
      case ClaimName(n) =>
        if (!published(n.toLong) &&
            now - st.getModificationTime > staleMs)
          fs.rename(st.getPath, droppedFile(table, n.toLong))
        else fresh += 1
      case _ => ()
    })
    fresh
  }

  /** Publish wave `seq`'s key file (tmp + rename — readers never see a
    * torn file). `keys` are RENDERED tuples ([[renderRow]]). STANDS
    * DOWN (throws) if the wave's claim was stale-broken: a tombstoned
    * sequence means maintenance (compact/cluster) may have already
    * reconciled past this wave — its shards re-stamped at or above
    * `seq` — so a late publish would hit nothing and leave the wave's
    * old/new row pairs as permanent duplicates. Failing loudly makes
    * the framework/user retry at a fresh sequence, which converges. */
  def publish(fs: FileSystem, table: Path, seq: Long, cols: Seq[String],
              keys: Iterable[String], tag: String = null,
              token: Array[Byte] = null): Unit = {
    // with a token ([[claimNextWithToken]]) ownership means the claim
    // file still holds OUR token — a surviving double-claim (object
    // stores without O_EXCL: both waves' read-backs passed) is caught
    // here, the overwritten wave stands down; without one (legacy
    // callers) existence is the best available check
    def owned: Boolean =
      if (token == null) fs.exists(claimFile(table, seq))
      else
        try {
          val in = fs.open(claimFile(table, seq))
          try java.util.Arrays.equals(in.readAllBytes(), token)
          finally in.close()
        } catch { case _: Exception => false }
    def standDown(): Nothing = throw new IllegalStateException(
      s"equality-delete wave $seq on $table stood down: its claim was " +
        "stale-broken or overwritten by a racing claim (the wave " +
        s"outlived ${JsonlSnapshots.ClaimStaleMsKey}, or the store " +
        "lacks atomic create-if-absent) — retry the write")
    if (!owned) standDown()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("seq", seq)
    val cn = root.putArray("cols"); cols.foreach(cn.add)
    val kn = root.putArray("keys"); keys.toSeq.sorted.foreach(kn.add)
    val target = keyFile(table, seq, tag)
    fs.mkdirs(target.getParent)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val out = fs.create(tmp, true)
    out.write(mapper.writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
    out.close()
    if (!fs.rename(tmp, target)) {
      val diag = s"tmp=${fs.exists(tmp)} target=${fs.exists(target)} " +
        s"parent=${fs.exists(target.getParent)} " +
        s"claim=${fs.exists(claimFile(table, seq))}"
      throw new java.io.IOException(
        s"equality-delete publish failed: $target ($diag)")
    }
    if (!owned) { // broken mid-publish: un-publish, stand down
      fs.delete(target, false)
      standDown()
    }
  }

  /** The reader-side state: (rendered key tuple → highest delete
    * sequence naming it, published max sequence, key columns). Empty
    * map when the tier is unused (one existence probe). Key files are
    * required to agree on `cols` — the property is validated at
    * CREATE/ALTER and waves read it from table metadata. */
  def index(fs: FileSystem, table: Path): (Map[String, Long], Long, Seq[String]) = {
    val d = dir(table)
    if (!fs.exists(d)) return (Map.empty, 0L, Nil)
    indexFiles(fs, fs.listStatus(d).toSeq.collect {
      case st if FileName.findFirstMatchIn(st.getPath.getName).isDefined =>
        st.getPath
    })
  }

  /** [[index]] over an EXPLICIT set of key files — how a pinned scan
    * loads the equality state a manifest embedded (the files resolve
    * live-first, then `_snapshots/retained/`; names — and so
    * sequences — survive retention). */
  def indexFiles(fs: FileSystem, files: Seq[Path])
      : (Map[String, Long], Long, Seq[String]) = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    var maxSeq = 0L
    var cols: Seq[String] = Nil
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    files.foreach { p =>
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      val node = mapper.readTree(new String(bytes, StandardCharsets.UTF_8))
      val seq = node.get("seq").asLong
      maxSeq = math.max(maxSeq, seq)
      val cs = (0 until node.get("cols").size)
        .map(node.get("cols").get(_).asText)
      require(cols.isEmpty || cols == cs,
        s"equality-delete key files disagree on key columns: $cols vs $cs")
      cols = cs
      val ks = node.get("keys")
      (0 until ks.size).foreach { i =>
        val k = ks.get(i).asText
        m.get(k) match {
          case Some(s0) if s0 >= seq => ()
          case _ => m.update(k, seq)
        }
      }
    }
    (m.toMap, maxSeq, cols)
  }

  // ----------------------------------------- bounded reader-side state
  //
  // The scan's equality state is O(pending keys) between compactions.
  // Unbounded, that is a driver OOM at 100 TB with a lagging
  // compactor, so the PLAN decides by pending BYTES (free, from the
  // directory listing):
  //   - under `graft.upsert.pending.broadcast.max.bytes` (default
  //     32 MB): the driver loads the key map and broadcasts it — the
  //     fast path, and the only one where the skip-range exemption
  //     probe (driver-side, needs the values) is available;
  //   - over it: the driver ships ONLY the key file paths; each
  //     executor builds the map once ([[ExecutorIndexCache]],
  //     soft-referenced, shared by every task on the executor) — the
  //     driver never materializes a single key;
  //   - over `graft.upsert.pending.refuse.bytes` (default 8 GB) the
  //     scan refuses LOUDLY naming `CALL compact` — the alternative is
  //     a silent executor OOM.

  val BroadcastMaxBytesKey = "graft.upsert.pending.broadcast.max.bytes"
  val DefaultBroadcastMaxBytes: Long = 32L * 1024 * 1024
  val RefuseBytesKey = "graft.upsert.pending.refuse.bytes"
  val DefaultRefuseBytes: Long = 8L * 1024 * 1024 * 1024

  /** What a scan needs of the equality tier: the driver-loaded map
    * (empty when the executor-direct path is on), the max pending
    * sequence, the key columns (empty on the executor-direct path —
    * readers learn them from the files), and the key file paths for
    * executor-direct loading (empty on the broadcast path). */
  final case class ReadPlan(map: Map[String, Long], maxSeq: Long,
                            cols: Seq[String], files: Seq[String]) {
    def isEmpty: Boolean = maxSeq == 0L
  }
  val EmptyReadPlan: ReadPlan = ReadPlan(Map.empty, 0L, Nil, Nil)

  /** The live table's read plan (one listing; [[EmptyReadPlan]] with
    * one existence probe when the tier is unused). */
  def planTable(fs: FileSystem, table: Path,
                conf: org.apache.hadoop.conf.Configuration): ReadPlan = {
    val d = dir(table)
    if (!fs.exists(d)) return EmptyReadPlan
    val sts = fs.listStatus(d).filter(st =>
      FileName.findFirstMatchIn(st.getPath.getName).isDefined)
    if (sts.isEmpty) return EmptyReadPlan
    planFiles(fs, sts.map(st => (st.getPath, st.getLen)).toSeq, conf)
  }

  /** Read plan over an EXPLICIT file set (a pinned scan's manifest
    * refs, already resolved). */
  def planFiles(fs: FileSystem, files: Seq[(Path, Long)],
                conf: org.apache.hadoop.conf.Configuration): ReadPlan = {
    if (files.isEmpty) return EmptyReadPlan
    val bytes = files.iterator.map(_._2).sum
    val refuse = conf.getLong(RefuseBytesKey, DefaultRefuseBytes)
    require(bytes <= refuse,
      s"graft-jsonl scan refused: $bytes bytes of pending equality-delete " +
        s"keys exceed $RefuseBytesKey=$refuse — CALL compact to reconcile " +
        "the upsert waves into the layout (or raise the threshold)")
    val cap = conf.getLong(BroadcastMaxBytesKey, DefaultBroadcastMaxBytes)
    if (bytes <= cap) {
      val (m, mx, cols) = indexFiles(fs, files.map(_._1))
      ReadPlan(m, mx, cols, Nil)
    } else
      ReadPlan(Map.empty,
        files.iterator.map(f => seqOfName(f._1.getName)).max, Nil,
        files.map(_._1.toString))
  }

  /** Executor-side shared index for the over-cap path: built once per
    * (executor, file set) and soft-referenced so memory pressure can
    * reclaim it. File paths are a sound cache key — names are
    * sequence-unique and the files immutable. */
  object ExecutorIndexCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      String, java.lang.ref.SoftReference[(Map[String, Long], Long, Seq[String])]]()
    def get(conf: org.apache.hadoop.conf.Configuration, files: Seq[String])
        : (Map[String, Long], Long, Seq[String]) = {
      val key = files.sorted.mkString("|")
      // computeIfAbsent locks only this key's bin, so concurrent scans
      // of DIFFERENT tables load in parallel; a cleared SoftReference's
      // entry is removed (keys never accumulate) and recomputed
      val ref = cache.computeIfAbsent(key, _ => {
        val paths = files.map(new Path(_))
        new java.lang.ref.SoftReference(
          indexFiles(paths.head.getFileSystem(conf), paths))
      })
      val hit = ref.get()
      if (hit != null) hit
      else {
        cache.remove(key, ref)
        get(conf, files)
      }
    }
  }

  /** Names (`s<N>.json`) of the key files currently PENDING — what a
    * full-listing snapshot pin embeds. Empty with one existence
    * probe when the tier is unused. */
  def pendingNames(fs: FileSystem, table: Path): Seq[String] = {
    val d = dir(table)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toSeq.collect {
      case st if FileName.findFirstMatchIn(st.getPath.getName).isDefined =>
        st.getPath.getName
    }.sorted
  }

  /** The sequence a key file NAME carries. */
  def seqOfName(name: String): Long = name match {
    case FileName(n) => n.toLong
    case _ => throw new IllegalArgumentException(
      s"not an equality-delete key file name: $name")
  }

  /** Retire key files no live shard is exposed to: file S is needed
    * iff some live shard's stamp is < S. Crashed-wave tombstones are
    * folded into the hwm and removed with them. When `retainedRoot` is
    * given, EVERY retiring key file
    * moves to `retainedRoot/_eq_deletes/` instead of deleting — not
    * just manifest-referenced ones: a lock-free wave's delta auto-pin
    * may be about to reference a key file no published manifest names
    * yet, and a hard delete here would leave that manifest
    * unresolvable forever. `expire_snapshots` reclaims retained files
    * no surviving manifest references. Returns files removed (retained
    * ones count — they left the live pending set). */
  def retire(fs: FileSystem, table: Path, minLiveShardSeq: Long,
             retainedRoot: Path = null): Int = {
    val d = dir(table)
    if (!fs.exists(d)) return 0
    // preserve the numbering before files go: live shard stamps
    // persist, so the next wave's sequence must clear them. Tombstoned
    // (dropped) sequences fold in too — their claim-ordering role ends
    // once the hwm covers them.
    val maxSeq = maxSeqs(fs, table) match { case (p, c) => math.max(p, c) }
    if (maxSeq > readHwm(fs, table)) {
      val tmp = hwmTmpFile(table)
      val out = fs.create(tmp, true)
      out.write(maxSeq.toString.getBytes(StandardCharsets.UTF_8))
      out.close()
      // ATOMIC overwrite-rename (the VersionedTable `_LATEST` pattern):
      // delete-then-rename would open a window where a crash leaves NO
      // hwm while the key files below are already gone — claimNext
      // could then hand out a sequence below live shard stamps, and
      // that wave's deletes (`stamp < seq`) would silently miss
      // older-stamped shards. FileContext.rename(OVERWRITE) is the
      // POSIX/HDFS atomic replace; the old hwm stays readable until
      // the instant the new one is. Filesystems without FileContext
      // support (object stores — witnessed by ObjectStoreSemanticsSpec,
      // which crashed HERE before this fallback existed) fall back to
      // that window take delete-then-rename — which is CRASH-SAFE here
      // because [[readHwm]] folds in the fully-written tmp copy: a
      // crash between the delete and the rename leaves `.hwm.tmp` as
      // the authoritative (larger) value, so no wave can re-claim a
      // retired sequence. The rename-returns-false case still fails
      // loudly (naming the tmp recovery copy) rather than proceeding.
      try
        org.apache.hadoop.fs.FileContext
          .getFileContext(tmp.toUri, fs.getConf)
          .rename(tmp, hwmFile(table),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          if (fs.exists(hwmFile(table))) fs.delete(hwmFile(table), false)
          if (!fs.rename(tmp, hwmFile(table)))
            throw new java.io.IOException(
              s"equality-delete hwm publish failed for ${hwmFile(table)}; " +
                s"recover from $tmp before the next wave claims")
      }
    }
    var removed = 0
    fs.listStatus(d).foreach(st => st.getPath.getName match {
      case FileName(n) if n.toLong <= minLiveShardSeq =>
        val name = st.getPath.getName
        // retain only when the snapshot machinery exists (_snapshots/
        // present): a never-snapshotted table would otherwise grow
        // retained files nothing ever expires. A racing FIRST pin on
        // such a table survives the hard delete through pin-time ref
        // validation (missing ref -> full-listing fallback).
        if (retainedRoot != null && fs.exists(retainedRoot.getParent)) {
          val kept = new Path(new Path(retainedRoot, DirName), name)
          if (fs.exists(kept)) fs.delete(st.getPath, false)
          else {
            fs.mkdirs(kept.getParent)
            if (!fs.rename(st.getPath, kept))
              throw new java.io.IOException(
                s"equality-delete retention failed for $name")
          }
        } else fs.delete(st.getPath, false)
        removed += 1
      // every tombstone is covered by the hwm just written — its
      // reassignment guard lives on there
      case DroppedName(_) => fs.delete(st.getPath, false)
      case _ => ()
    })
    removed
  }

  // ------------------------------------------- skip-range fast path
  //
  // A shard whose skip-index [min, max] on ANY indexed key column
  // excludes that column's part of every pending key that OUTRANKS its
  // stamp provably holds no hidden rows: shard files are immutable in
  // this layout, so an entry's range is always a superset of the truth
  // (approx entries are wider — still sound), and a full-tuple match
  // requires every part to match. The probe is therefore built over
  // EVERY eligible key column, not just the leading one — a
  // `(source, day)` key with a low-cardinality leading column still
  // exempts shards whose day range misses the pending days. The scan
  // uses this to skip the per-row check entirely; compact uses it to
  // re-stamp by rename instead of rewriting.

  /** One key column's type-erased probe: sorted pending-part arrays
    * per distinct stamp (few per table), ordered EXACTLY as the skip
    * entries' min/max decode orders — natural for BIGINT/INT (and the
    * epoch integers DATE/TIMESTAMP render to), UTF8 binary for STRING
    * (Spark's aggregate string order, which the index build used). */
  private[dsv2] final class ColProbe(val colIdx: Int,
                                     pairs: Array[(AnyRef, Long)],
                                     cmp: java.util.Comparator[AnyRef],
                                     conv: Any => AnyRef) {
    private val cache = scala.collection.mutable.Map.empty[Long, Array[AnyRef]]
    private def keysAbove(stamp: Long): Array[AnyRef] =
      cache.getOrElseUpdate(stamp, {
        val a = pairs.iterator.filter(_._2 > stamp).map(_._1).toArray
        java.util.Arrays.sort(a, cmp)
        a
      })
    /** No outranking pending part inside the entry range [mn, mx]
      * (entry-decoded values)? */
    def clear(stamp: Long, mn: Any, mx: Any): Boolean = {
      val keys = keysAbove(stamp)
      keys.isEmpty || {
        val i = java.util.Arrays.binarySearch(keys, conv(mn), cmp)
        val lo = if (i >= 0) i else -i - 1
        lo >= keys.length || cmp.compare(keys(lo), conv(mx)) > 0
      }
    }
  }

  /** The per-table probe over every eligible key column. A shard is
    * `clear` when SOME column's available entry range excludes all of
    * that column's outranking parts — sound for composite keys because
    * a hidden row must match the full tuple. */
  final class RangeProbe private[JsonlEqDeletes] (
      cols: Array[ColProbe], maxSeqAll: Long) {
    /** No pending key outranking `stamp` at all? */
    def exhausted(stamp: Long): Boolean = maxSeqAll <= stamp
    /** Column indices (into the key tuple) this probe can exempt on —
      * callers feed their stats through `rangeOf` for these. */
    private[dsv2] def eligible: Seq[Int] = cols.map(_.colIdx).toSeq
    /** `rangeOf(i)` = the shard entry's decoded [min, max] on key
      * column `i`, None when unindexed/all-null there. */
    def clear(stamp: Long, rangeOf: Int => Option[(Any, Any)]): Boolean =
      exhausted(stamp) || cols.exists { cp =>
        rangeOf(cp.colIdx).exists { case (mn, mx) => cp.clear(stamp, mn, mx) }
      }
  }

  /** Build the probe; null when the fast path doesn't apply anywhere
    * (no eligible column, or ambiguous tuple splits). A column is
    * eligible when its type is orderable against entry stats and no
    * pending tuple has a null/unparsable part there. DATE/TIMESTAMP
    * keys ride the numeric branch — their renderings are epoch
    * integers, and the skip entries' min/max decode as the same
    * numbers. */
  def rangeProbe(eqMap: Map[String, Long], cols: Seq[String],
                 dts: Seq[org.apache.spark.sql.types.DataType]): RangeProbe = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType,
      StringType, TimestampNTZType, TimestampType}
    if (cols.isEmpty) return null
    // per-column distinct parts, each folded to its highest sequence.
    // Writers refuse separator characters inside STRING key values,
    // but legacy/foreign key files might carry them — a tuple whose
    // part count disagrees with the key arity is ambiguous to split,
    // so stand down entirely (conservative, never wrong).
    val perCol = Array.fill(cols.size)(
      scala.collection.mutable.HashMap.empty[String, Long])
    var maxSeqAll = 0L
    val it = eqMap.iterator
    while (it.hasNext) {
      val (k, sq) = it.next()
      if (sq > maxSeqAll) maxSeqAll = sq
      val parts = k.split(Sep, -1)
      if (parts.length != cols.size) return null
      var i = 0
      while (i < parts.length) {
        val m = perCol(i)
        val p = parts(i)
        m.get(p) match {
          case Some(s0) if s0 >= sq => ()
          case _ => m.update(p, sq)
        }
        i += 1
      }
    }
    val probes = cols.indices.flatMap { i =>
      val m = perCol(i)
      // a null part is invisible to min/max ranges — this column
      // stands down (others may still exempt)
      if (m.contains(NullMark)) None
      else dts(i) match {
        case LongType | IntegerType | DateType | TimestampType |
             TimestampNTZType =>
          val parsed = m.iterator.map { case (k, sq) =>
            scala.util.Try(k.toLong).toOption
              .map(v => (java.lang.Long.valueOf(v): AnyRef, sq)) }.toArray
          if (parsed.contains(None)) None
          else Some(new ColProbe(i, parsed.map(_.get),
            (a: AnyRef, b: AnyRef) => java.lang.Long.compare(
              a.asInstanceOf[java.lang.Long], b.asInstanceOf[java.lang.Long]),
            v => java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())))
        case StringType =>
          Some(new ColProbe(i,
            m.iterator.map { case (k, sq) =>
              (org.apache.spark.unsafe.types.UTF8String.fromString(k)
                : AnyRef, sq) }.toArray,
            (a: AnyRef, b: AnyRef) =>
              a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
                .compareTo(
                  b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]),
            v => org.apache.spark.unsafe.types.UTF8String
              .fromString(v.asInstanceOf[String])))
        case _ => None
      }
    }
    if (probes.isEmpty) null
    else new RangeProbe(probes.toArray, maxSeqAll)
  }

  /** Inverse of [[renderRow]] into TYPED values (null for the null
    * mark) — how the change feed turns a key file back into join
    * rows. */
  def parseRendered(key: String,
                    dts: Seq[org.apache.spark.sql.types.DataType]): Seq[Any] = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType,
      StringType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val parts = key.split(Sep, -1)
    require(parts.length == dts.length,
      s"rendered key arity ${parts.length} != ${dts.length}")
    parts.toSeq.zip(dts).map {
      case (NullMark, _) => null
      case (p, LongType) => p.toLong
      case (p, IntegerType) => p.toInt
      case (p, StringType) => p
      // EXTERNAL row types (the values feed createDataFrame)
      case (p, DateType) => DateTimeUtils.toJavaDate(p.toInt)
      case (p, TimestampType) => DateTimeUtils.toJavaTimestamp(p.toLong)
      case (p, TimestampNTZType) => DateTimeUtils.microsToLocalDateTime(p.toLong)
      case (_, dt) => throw new UnsupportedOperationException(
        s"graft.upsert.keys supports BIGINT/INT/STRING/DATE/TIMESTAMP, got $dt")
    }
  }

  /** Key tuple of `row` at field indexes `idx` — the writers' keys and
    * the shard readers' probes alike. DATE renders as epoch DAYS,
    * TIMESTAMP/TIMESTAMP_NTZ as epoch MICROS: the exact integers the
    * JSONL writer stores. Built in one pass (a reader renders one key
    * per row). `refuseControl` refuses string values holding the
    * separator/null-mark characters — the write-side guard; a reader
    * renders them as they are (no published key can hold them). */
  def renderRow(row: org.apache.spark.sql.catalyst.InternalRow,
                schema: org.apache.spark.sql.types.StructType,
                idx: Seq[Int], refuseControl: Boolean = true): String = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType,
      StringType, TimestampNTZType, TimestampType}
    def part(i: Int): String =
      if (row.isNullAt(i)) NullMark
      else schema.fields(i).dataType match {
        case LongType => row.getLong(i).toString
        case IntegerType => row.getInt(i).toString
        case StringType =>
          val v = row.getUTF8String(i).toString
          // the rendering joins parts with U+0001 and marks null with
          // U+0000 UNESCAPED: a key value containing them would make
          // distinct tuples render identically (one silently hiding
          // the other) — refuse loudly at the write
          var j = 0
          while (refuseControl && j < v.length) {
            if (v.charAt(j) <= '\u0002')
              throw new UnsupportedOperationException(
                "graft.upsert.keys: key values must not contain control " +
                  s"characters U+0000..U+0002 (column " +
                  s"${schema.fields(i).name})")
            j += 1
          }
          v
        case DateType => row.getInt(i).toString
        case TimestampType | TimestampNTZType => row.getLong(i).toString
        case dt => throw new UnsupportedOperationException(
          "graft.upsert.keys supports BIGINT/INT/STRING/DATE/TIMESTAMP, " +
            s"got $dt")
      }
    if (idx.length == 1) part(idx.head)
    else {
      val sb = new java.lang.StringBuilder(32)
      val it = idx.iterator
      while (it.hasNext) {
        sb.append(part(it.next()))
        if (it.hasNext) sb.append(Sep)
      }
      sb.toString
    }
  }

  /** One key part's canonical text from a parsed JSON value
    * ([[NullMark]] for null or a type mismatch). Connector-written
    * temporal values are epoch numbers; externally-authored ISO text
    * parses zone-free (zoned textual TIMESTAMPs as UTC). */
  private def renderNode1(n: com.fasterxml.jackson.databind.JsonNode,
                          dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType,
      StringType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.unsafe.types.UTF8String
    if (n == null || n.isNull) return NullMark
    dt match {
      case LongType => if (n.isNumber) n.asLong.toString else NullMark
      case IntegerType => if (n.isNumber) n.asInt.toString else NullMark
      case StringType => if (n.isTextual) n.asText else NullMark
      case DateType =>
        if (n.isNumber) n.asInt.toString
        else if (n.isTextual)
          DateTimeUtils.stringToDate(UTF8String.fromString(n.asText))
            .map(_.toString).getOrElse(NullMark)
        else NullMark
      case TimestampNTZType =>
        if (n.isNumber) n.asLong.toString
        else if (n.isTextual)
          DateTimeUtils.stringToTimestampWithoutTimeZone(
            UTF8String.fromString(n.asText))
            .map(_.toString).getOrElse(NullMark)
        else NullMark
      case TimestampType =>
        if (n.isNumber) n.asLong.toString
        else if (n.isTextual)
          DateTimeUtils.stringToTimestamp(UTF8String.fromString(n.asText),
            java.time.ZoneOffset.UTC).map(_.toString).getOrElse(NullMark)
        else NullMark
      case _ => NullMark
    }
  }

  /** The key tuple of parsed JSON values (each resolved through
    * physical keys / partition-path values by the caller) — the probe
    * of compaction's line-level JSONL rewrite. */
  def renderNodes(nodes: Seq[com.fasterxml.jackson.databind.JsonNode],
                  dts: Seq[org.apache.spark.sql.types.DataType]): String =
    nodes.zip(dts).map { case (n, dt) => renderNode1(n, dt) }.mkString(Sep)
}
