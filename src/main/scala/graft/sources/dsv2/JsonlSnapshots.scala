package graft.sources.dsv2

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** Named snapshots + time travel for `graft-jsonl` catalog tables —
  * corpus versioning for reproducible training runs, the Iceberg
  * snapshot idea reduced to the explicit-checkpoint form a
  * filesystem-only layout can make ROBUST:
  *
  *   - `CALL wh.system.snapshot('ns.t', tag => 'v1-corpus')` writes
  *     ONE manifest file `_snapshots/v<N>.json` pinning the table's
  *     current state: every live shard's table-relative path + byte
  *     length, each shard's position-delete ordinals EMBEDDED (a later
  *     MOR delete mutates the live sidecar, never the manifest), and
  *     the schema as of the snapshot (a later ADD COLUMN doesn't
  *     change what version N serves);
  *   - `SELECT ... FROM wh.ns.t VERSION AS OF 3` (or the tag, or
  *     `TIMESTAMP AS OF ...`) routes through
  *     `TableCatalog.loadTable(ident, version)` to a READ-ONLY table
  *     planned from the manifest instead of the live listing;
  *   - every destructive path (TRUNCATE, partition DROP/DELETE,
  *     INSERT OVERWRITE, copy-on-write rewrites, `CALL compact`,
  *     `CALL cluster_table`) RETAINS a shard referenced by any live
  *     manifest — moved under `_snapshots/retained/<rel>` instead of
  *     deleted, where manifest readers resolve it — so a snapshot
  *     keeps answering byte-identically across rewrites;
  *   - `CALL expire_snapshots('ns.t', keep_last => K)` drops old
  *     manifests and every retained shard no remaining manifest
  *     references: bounded history, explicit reclamation.
  *
  * Snapshots are immutable once written and shard names are
  * attempt-unique, so a retained file can never collide with a live
  * one. Manifest size is O(shards + embedded delete ordinals) —
  * metadata scale; the snapshot itself copies ZERO data bytes.
  * Snapshots are explicit CALLs by default; a table declaring
  * `graft.snapshot.auto = 'true'` ([[JsonlTable.AutoSnapshotProp]])
  * pins one per committed write instead ([[autoPin]]), giving the
  * change feed per-commit granularity. Between pins there is no
  * finer-grained history, and reads of the LIVE table keep the
  * per-file-rename visibility contract. `CALL rollback_to_snapshot`
  * ([[rollback]]) restores the live table to any pinned version, in
  * either direction. */
object JsonlSnapshots {
  val DirName = "_snapshots"
  val RetainedName = "retained"

  /** How long a pin CLAIM (`v<N>.claim`) may sit unpublished before
    * other pinners break it: the claim→publish critical section is a
    * manifest read + write (milliseconds), so a minute-old claim means
    * a crashed pinner. Netted, never lost: the breaker repairs with a
    * FULL LISTING, which includes the crashed commit's landed data. */
  val ClaimStaleMsKey = "graft.snapshot.claim.stale.ms"
  val DefaultClaimStaleMs = 60000L

  /** Longest equality-delete chain a DELTA pin may carry before it
    * falls back to a full listing: on a pure streaming-upsert table
    * every epoch adds one key file to the rebased chain and the chain
    * shards never re-stamp (the chain never sees compacted layouts),
    * so without a bound the manifests — and every pinned scan's key
    * load — would grow one file per epoch forever. The full-listing
    * rebase resets the chain to the live pending set, which compaction
    * cadence bounds. */
  val MaxDeltaEqChain = 8

  final case class ShardRef(len: Long, deletes: Array[Long])

  /** One commit's effect on the live layout, for lock-free rebase
    * pinning ([[casPin]]): rel paths added (with byte length), NEW
    * position-delete ordinals unioned into shards' sidecars, rel
    * paths leaving the live set, and equality-delete key files the
    * commit published (an upsert wave's `s<N>.json`). */
  final case class PinDelta(added: Map[String, Long],
                            deleteOrdinals: Map[String, Array[Long]],
                            removed: Set[String],
                            eqAdded: Seq[String] = Nil)

  /** A pinned version: the shard set (with embedded position-delete
    * ordinals) PLUS the equality-delete key files pending at pin time
    * (`eqFiles`, names under `_eq_deletes/`) — so a snapshot of an
    * upsert table serves the upserted state, not the raw shard
    * union. The eq rule needs nothing else: shard stamps ride in the
    * shard NAMES the manifest already keys on. */
  final case class Manifest(id: Long, tag: Option[String], createdMs: Long,
                            schemaJson: String,
                            shards: Map[String, ShardRef],
                            eqFiles: Seq[String] = Nil) {
    def schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  def dir(table: Path): Path = new Path(table, DirName)
  def retainedRoot(table: Path): Path = new Path(dir(table), RetainedName)
  private def manifestFile(table: Path, id: Long): Path =
    new Path(dir(table), s"v$id.json")
  private def claimFile(table: Path, id: Long): Path =
    new Path(dir(table), s"v$id.claim")
  private val ManifestName = """v(\d+)\.json""".r
  private val ClaimName = """v(\d+)\.claim""".r

  private def relOf(fs: FileSystem, root: Path, p: Path): String = {
    val rel = fs.makeQualified(root).toUri
      .relativize(fs.makeQualified(p).toUri).getPath
    require(!rel.startsWith("/"), s"failed to relativize $p against $root")
    rel
  }

  /** All manifests of `table`, ascending by id; empty when the table
    * has never been snapshotted (one existence probe). */
  def list(fs: FileSystem, table: Path): Seq[Manifest] = {
    val d = dir(table)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(_) if st.isFile =>
          // a manifest deleted between the listing and the read is a
          // concurrent expire_snapshots landing — as-if already
          // expired, exactly the state the caller would have seen a
          // moment later
          try Some(read(fs, st.getPath))
          catch { case _: java.io.FileNotFoundException => None }
        case _ => None
      }
    }.sortBy(_.id)
  }

  /** Snapshot the table's CURRENT state as version max+1, through the
    * lock-free claim protocol (content listed INSIDE the claim
    * window, so concurrent delta pins order consistently). */
  def create(fs: FileSystem, table: Path, tag: Option[String],
             schema: StructType): Manifest =
    pin(fs, fs.getConf, table, schema, tag, None).getOrElse(
      throw new IllegalStateException(
        s"snapshot of $table stood down: its pin claim was stale-broken " +
          "by a concurrent pinner (the pin stalled past " +
          s"$ClaimStaleMsKey) — the table state was netted into that " +
          "pinner's repair version; retry to pin a dedicated version"))

  // ------------------------------------------------- lock-free pins
  //
  // Version-id assignment is a CAS on the atomic creation of
  // `_snapshots/v<N>.claim` (O_EXCL locally, create(overwrite=false)
  // on HDFS — RowLevelLock.atomicCreate): the claim IS the commit
  // point for the id, so pins never take the table `_rlo_lock` and a
  // landed commit can never silently skip its pin. Publication
  // serializes by id: a claim holder waits for every LOWER claim to
  // resolve (publish, or go stale → broken + repaired), then bases its
  // content on the highest published manifest — so manifest content is
  // totally ordered even though data commits run fully concurrently.
  //
  // Crash accounting: a pinner that dies between claim and publish
  // leaves a stale claim; the next pinner breaks it after
  // `graft.snapshot.claim.stale.ms` (default 60 s — the critical
  // section is a manifest read+write, milliseconds) and REPAIRS by
  // pinning a FULL LISTING instead of a delta, which includes the
  // crashed commit's landed data: its changes net into the repair
  // version (rows never lost, version boundaries coarsen — the same
  // documented degradation as a crash between a streaming epoch's log
  // record and its pin). The broken id stays a hole; readers walk the
  // RETAINED manifest list, which `expire_snapshots` already holes.
  // A stalled-but-alive holder re-verifies its claim token before AND
  // after the publish rename and stands down (un-publishes) if broken.

  /** (published manifest ids, unresolved claim ids) from NAMES only —
    * a per-commit pin must not pay O(#manifests) JSON reads. */
  private def idsOf(fs: FileSystem, table: Path): (Seq[Long], Seq[Long]) = {
    val d = dir(table)
    if (!fs.exists(d)) return (Nil, Nil)
    val pub = Seq.newBuilder[Long]; val cl = Seq.newBuilder[Long]
    fs.listStatus(d).foreach(st => st.getPath.getName match {
      case ManifestName(n) if st.isFile => pub += n.toLong
      case ClaimName(n) if st.isFile => cl += n.toLong
      case _ => ()
    })
    (pub.result(), cl.result())
  }

  // ------------------------------------------- crashed-commit intents
  //
  // Delta pins rebase the PREVIOUS manifest, so a commit that crashes
  // between its durable commit point (epoch log rename / batch shard
  // renames) and its autoPin leaves shards that are live but in NO
  // manifest — and no later delta pin would ever pick them up (a
  // rollback would even delete them as unreferenced). Auto-snapshot
  // commits therefore record an INTENT marker (`_snapshots/.intent.<id>`)
  // before their first mutation and consume it right after their pin;
  // any pin that finds a marker older than the claim-stale budget
  // knows a commit landed data without its pin and repairs by basing
  // on a FULL LISTING (which includes the crashed commit's shards),
  // consuming the marker only after the repair manifest is published.

  def intentFile(table: Path, id: String): Path =
    new Path(dir(table), s".intent.$id")
  def recordIntent(fs: FileSystem, table: Path, id: String): Unit = {
    fs.mkdirs(dir(table))
    fs.create(intentFile(table, id), true).close()
  }
  def clearIntent(fs: FileSystem, table: Path, id: String): Unit = {
    fs.delete(intentFile(table, id), false)
    ()
  }
  def hasIntent(fs: FileSystem, table: Path, id: String): Boolean =
    fs.exists(intentFile(table, id))

  private def claimOwned(fs: FileSystem, cf: Path, token: String): Boolean =
    try {
      val in = fs.open(cf)
      val s = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      s == token
    } catch { case _: java.io.IOException => false }

  /** Rebase `base` over one commit's delta; None when the delta names
    * a shard the chain doesn't know (pre-chain history — the caller
    * repairs with a full listing). */
  private def applyDelta(base: Map[String, ShardRef], d: PinDelta)
      : Option[Map[String, ShardRef]] = {
    var m = base -- d.removed
    d.added.foreach { case (rel, len) => m += rel -> ShardRef(len, Array.empty) }
    var ok = true
    d.deleteOrdinals.foreach { case (rel, ords) =>
      m.get(rel) match {
        case Some(ref) =>
          m += rel -> ref.copy(deletes = (ref.deletes ++ ords).distinct.sorted)
        case None => ok = false
      }
    }
    if (ok) Some(m) else None
  }

  /** The pin core. Returns None ONLY when this pin's claim was
    * stale-broken by a concurrent pinner (which then repaired with a
    * full listing that nets this commit's changes). */
  private def pin(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
                  table: Path, schema: StructType, tag: Option[String],
                  delta: Option[PinDelta]): Option[Manifest] = {
    val staleMs =
      if (conf == null) DefaultClaimStaleMs
      else conf.getLong(ClaimStaleMsKey, DefaultClaimStaleMs)
    fs.mkdirs(dir(table))
    val token = java.util.UUID.randomUUID().toString
    var attempts = 0
    while (attempts < 1000) {
      attempts += 1
      val (published, claims) = idsOf(fs, table)
      val id = (published ++ claims).foldLeft(0L)(math.max) + 1L
      val cf = claimFile(table, id)
      if (RowLevelLock.atomicCreate(fs, cf,
            token.getBytes(StandardCharsets.UTF_8))) {
        // GHOST-claim re-verify (same hole as JsonlEqDeletes.claimNext,
        // witnessed there by the racing-wave soak): a full
        // claim→publish→release cycle of this same id can run entirely
        // between our idsOf listing and the create — release deletes
        // the claim, so the O_EXCL create succeeds on history it never
        // saw, and a DELTA pin would then overwrite the published
        // manifest v<id> from a pre-dated base (dropping the other
        // commit's shards from the chain; a later rollback would
        // delete them). Published ids are the durable evidence: while
        // we hold a live claim no higher manifest can publish (later
        // pinners wait on us), so any published id >= ours proves the
        // claim is a ghost — drop it and re-list.
        if (idsOf(fs, table)._1.exists(_ >= id)) {
          fs.delete(cf, false)
        } else try {
          // every lower claim must resolve before we read our base:
          // a pending lower pin publishing AFTER we compute would make
          // manifest content non-monotone with ids
          var repaired = false
          var waiting = true
          while (waiting) {
            val d = dir(table)
            val sts = fs.listStatus(d)
            val pubNow = sts.iterator.map(_.getPath.getName).collect {
              case ManifestName(n) => n.toLong }.toSet
            val unresolved = sts.filter { st =>
              st.getPath.getName match {
                case ClaimName(n) => n.toLong < id && !pubNow(n.toLong)
                case _ => false
              }
            }
            if (unresolved.isEmpty) waiting = false
            else {
              val now = System.currentTimeMillis()
              val stale = unresolved.filter(st =>
                now - st.getModificationTime > staleMs)
              stale.foreach { st =>
                if (fs.delete(st.getPath, false)) repaired = true }
              if (stale.length < unresolved.length) Thread.sleep(25L)
            }
          }
          val prevId = idsOf(fs, table)._1.filter(_ < id)
            .foldLeft(0L)(math.max)
          // stale intent markers = commits that landed data but died
          // before their pin (or are still mid-flight past the
          // budget): their shards may be in no manifest, so a delta
          // rebase would never see them — repair with a FULL LISTING.
          // Markers are NEVER consumed here: age alone cannot prove
          // the owner dead, and consuming a live slow commit's marker
          // would re-open the unpinned-crash window its later renames
          // depend on. Only the owner clears its marker (success or
          // replay); a crashed owner's marker keeps every later pin
          // full-listing (correct, merely slower) until
          // `CALL expire_staging` reclaims it under an explicit age.
          val staleIntents: Boolean = {
            val nowI = System.currentTimeMillis()
            fs.listStatus(dir(table)).exists { st =>
              st.getPath.getName.startsWith(".intent.") &&
                nowI - st.getModificationTime > staleMs
            }
          }
          if (staleIntents) repaired = true
          tag.foreach(t => require(!list(fs, table).exists(_.tag.contains(t)),
            s"snapshot tag '$t' already exists"))
          val (shards: Map[String, ShardRef], eqFiles: Seq[String]) =
            delta match {
            case Some(dl) if !repaired && prevId > 0L =>
              // prevId race with a stand-down: a stale-broken holder
              // can transiently publish manifest vK and un-publish it
              // when its post-write claimOwned check fails — a read
              // that sampled ids in that window sees K but no file.
              // Fall back to a full listing (same as the applyDelta
              // mismatch fallback) instead of failing a commit whose
              // data already landed.
              val base =
                try Some(read(fs, manifestFile(table, prevId)))
                catch { case _: java.io.FileNotFoundException => None }
              base.flatMap(b => applyDelta(b.shards, dl).map { sh =>
                // rebase the equality chain too, pruning files no
                // shard of THIS manifest is exposed to (stamp >= seq
                // everywhere — post-compact deltas collapse the list);
                // a chain that still accumulates past the bound falls
                // back to a full listing, which resets it to the live
                // pending set
                val merged = (b.eqFiles ++ dl.eqAdded).distinct
                val minStamp =
                  if (sh.isEmpty) Long.MaxValue
                  else sh.keysIterator.map(r =>
                    JsonlEqDeletes.shardSeqOf(
                      r.substring(r.lastIndexOf('/') + 1))).min
                (sh, merged.filter(n =>
                  JsonlEqDeletes.seqOfName(n) > minStamp))
              }).filter(_._2.size <= MaxDeltaEqChain)
                // every inherited eq ref must still resolve (live or
                // retained) — a maintenance retire racing this pin
                // could have removed one; fall back to a full listing
                // rather than publish a manifest that can never scan
                .filter(_._2.forall(n =>
                  fs.exists(new Path(JsonlEqDeletes.dir(table), n)) ||
                    fs.exists(new Path(
                      new Path(retainedRoot(table), JsonlEqDeletes.DirName),
                      n))))
                .getOrElse {
                  val c = current(fs, table, schema)
                  (c.shards, c.eqFiles)
                }
            case _ =>
              val c = current(fs, table, schema)
              (c.shards, c.eqFiles)
          }
          val m = Manifest(id, tag, System.currentTimeMillis(),
            schema.json, shards, eqFiles)
          if (!claimOwned(fs, cf, token)) return None
          write(fs, manifestFile(table, id), m)
          if (!claimOwned(fs, cf, token)) {
            fs.delete(manifestFile(table, id), false) // un-publish
            return None
          }
          return Some(m)
        } finally if (claimOwned(fs, cf, token)) fs.delete(cf, false)
      }
      // lost the CAS — another pin claimed this id; re-list and retry
    }
    throw new IllegalStateException(
      s"snapshot pin on $table: 1000 claim collisions — livelocked pinner?")
  }

  /** The CATALOG schema of `table` when its `_graft_table.json` spec
    * exists (the schema auto-pinned manifests must embed — the write
    * schema of one INSERT can be narrower than the table), else
    * `fallback` (path-based tables carry no spec). */
  def tableSchemaOf(fs: FileSystem, table: Path,
                    fallback: StructType): StructType = {
    val meta = new Path(table, "_graft_table.json")
    if (!fs.exists(meta)) return fallback
    try {
      val in = fs.open(meta)
      val bytes = try in.readAllBytes() finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(bytes, StandardCharsets.UTF_8))
      DataType.fromJson(node.get("schema").asText).asInstanceOf[StructType]
    } catch { case scala.util.control.NonFatal(_) => fallback }
  }

  /** Auto-snapshot-on-commit (`graft.snapshot.auto = true`): pin a
    * version right after a committed write, so the CDC feed
    * ([[JsonlChangesSource]]) can tail plain INSERT traffic without a
    * manual `CALL snapshot`. LOCK-FREE: version-id assignment is the
    * atomic creation of `v<N>.claim` (see [[pin]]), so partition-
    * disjoint writers on an auto-snapshot table commit fully
    * concurrently and EVERY landed commit gets a pin — there is no
    * contention budget and no silent skip. A commit that knows its
    * own layout delta passes it and pays O(manifest) — the previous
    * version rebased over the delta, no table listing; `delta = None`
    * (destructive paths whose removed-set is diffuse: truncate,
    * overwrite sweeps) pins a full listing. `CALL
    * expire_snapshots(keep_last)` bounds the history this grows. */
  def autoPin(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
              table: Path, fallbackSchema: StructType,
              delta: Option[PinDelta]): Option[Manifest] = {
    val schema = tableSchemaOf(fs, table, fallbackSchema)
    pin(fs, conf, table, schema, None, delta)
  }

  /** The table's LIVE state as an unwritten pseudo-manifest (id -1) —
    * what `create` would pin, without pinning it. The change feed
    * uses it as the implicit `to` endpoint. */
  def current(fs: FileSystem, table: Path, schema: StructType): Manifest = {
    // equality state FIRST, shards second: a key file publishes LAST
    // in its wave ([[JsonlEqDeletes]]), so every key file this listing
    // sees already has all its insert shards renamed in — the shard
    // listing below can never miss them, and the pinned view can never
    // show a wave's deletes without its inserts. (The inverse race — a
    // wave landing inserts between the two listings without its key
    // file here — pins the same transient-duplicate state a live
    // reader saw at that instant.)
    val eqFiles = JsonlEqDeletes.pendingNames(fs, table)
    val sidecars = JsonlDeletes.index(fs, table)
    val shards = JsonlLayout.discoverFull(fs, table).map {
      case (p, _, len, _) =>
        val deletes = sidecars.get(fs.makeQualified(p).toString)
          .map(sc => JsonlDeletes.read(fs, new Path(sc)))
          .getOrElse(Array.empty[Long])
        relOf(fs, table, p) -> ShardRef(len, deletes)
    }.toMap
    Manifest(-1L, None, System.currentTimeMillis(), schema.json, shards,
      eqFiles)
  }

  /** Resolve `VERSION AS OF <version>`: a numeric id or a tag. */
  def load(fs: FileSystem, table: Path, version: String): Manifest = {
    val all = list(fs, table)
    scala.util.Try(version.toLong).toOption
      .flatMap(id => all.find(_.id == id))
      .orElse(all.find(_.tag.contains(version)))
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no snapshot VERSION AS OF $version (known: " +
          all.map(m => m.tag.fold(m.id.toString)(t =>
            s"${m.id}/'$t'")).mkString(", ") + ")"))
  }

  /** Resolve `TIMESTAMP AS OF`: the latest snapshot at or before the
    * instant (Spark hands micros). */
  def loadAt(fs: FileSystem, table: Path, tsMicros: Long): Manifest = {
    val ms = tsMicros / 1000L
    list(fs, table).filter(_.createdMs <= ms).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no snapshot at or before timestamp $ms"))
  }

  /** Every shard rel-path any live manifest references — the set the
    * destructive paths must not destroy. One load per operation. */
  def referencedRels(fs: FileSystem, table: Path): Set[String] =
    list(fs, table).iterator.flatMap(_.shards.keysIterator).toSet

  /** Every equality-delete key file NAME any live manifest references
    * — what `CALL compact`'s retirement must retain instead of
    * delete. */
  def referencedEqNames(fs: FileSystem, table: Path): Set[String] =
    list(fs, table).iterator.flatMap(_.eqFiles.iterator).toSet

  /** A manifest's equality key file's CURRENT location: live
    * `_eq_deletes/`, else the retained copy. */
  def resolveEq(fs: FileSystem, table: Path, name: String): Path = {
    val live = new Path(JsonlEqDeletes.dir(table), name)
    if (fs.exists(live)) live
    else {
      val kept = new Path(
        new Path(retainedRoot(table), JsonlEqDeletes.DirName), name)
      require(fs.exists(kept),
        s"snapshot equality-delete file $name missing from both " +
          s"${JsonlEqDeletes.dir(table)} and retained/ — was it deleted " +
          "outside the connector?")
      kept
    }
  }

  /** A manifest shard's CURRENT location: live position, else the
    * retained copy. */
  def resolve(fs: FileSystem, table: Path, rel: String): Path = {
    val live = new Path(table, rel)
    if (fs.exists(live)) live
    else {
      val kept = new Path(retainedRoot(table), rel)
      require(fs.exists(kept),
        s"snapshot shard $rel missing from both $table and retained/ — " +
          "was it deleted outside the connector?")
      kept
    }
  }

  /** Retain-or-delete: the ONE chokepoint every destructive path
    * funnels a doomed shard through. Referenced by a manifest and not
    * yet retained → MOVED under `retained/<rel>`; otherwise deleted.
    * (If a retained copy already exists — same shard doomed twice,
    * possible after crash-recovery replays — the duplicate deletes.) */
  def discardShard(fs: FileSystem, table: Path, shard: Path, rel: String,
                   referenced: Set[String]): Unit =
    if (referenced.contains(rel)) {
      val kept = new Path(retainedRoot(table), rel)
      if (fs.exists(kept)) fs.delete(shard, false)
      else {
        fs.mkdirs(kept.getParent)
        if (!fs.rename(shard, kept))
          throw new java.io.IOException(s"snapshot retention failed for $shard")
      }
    } else fs.delete(shard, false)

  /** Refuse to operate over ANY crashed swap tree. Covers table-wide
    * AND partition-scoped names (a scoped compaction's
    * `_compact_trash_p_<hash>` / `_compact_staging_p_<hash>` — the
    * glob catches every suffix): a crashed trash dir can hold the only
    * copy of its shards, and a crashed staging dir marks a partition
    * whose live listing is mid-swap, so rollback / compact /
    * cluster_table / a copy-on-write commit proceeding over it would
    * lose or duplicate rows. */
  def requireNoCrashedSwaps(fs: FileSystem, table: Path, op: String): Unit = {
    val crashed = Seq("_cow_trash", "_compact_trash*", "_compact_staging*",
      "_cluster_trash", "_cluster_staging").flatMap { pat =>
      Option(fs.globStatus(new Path(table, pat))).toSeq.flatten.map(_.getPath)
    }
    require(crashed.isEmpty,
      s"$op refused: crashed swap dir(s) ${crashed.mkString(", ")} exist " +
        s"under $table — a previous operation died mid-swap; recover first")
  }

  /** Sweep a trash tree about to be dropped: every data shard whose
    * table-relative path (per `relInTrash`) is referenced moves to
    * retained/ first. */
  def retainFromTrash(fs: FileSystem, table: Path, trash: Path,
                      relInTrash: Path => String): Unit = {
    if (!fs.exists(trash)) return
    val referenced = referencedRels(fs, table)
    if (referenced.isEmpty) return
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (JsonlLayout.isShard(st.getPath.getName))
        discardShard(fs, table, st.getPath, relInTrash(st.getPath), referenced)
    }
    walk(trash)
  }

  /** Restore the LIVE table to exactly what manifest `m` pinned —
    * Iceberg's rollback, re-expressed for this layout. Caller holds
    * the table `_rlo_lock`.
    *
    *   - live shards NOT in `m` leave through [[discardShard]]
    *     (retained when any manifest — e.g. a post-`m` snapshot —
    *     references them, so rollback never destroys the future:
    *     rolling FORWARD again is the same operation);
    *   - `m`'s shards missing from the live layout move back from
    *     `retained/` (bytes immutable + attempt-unique names, so the
    *     retained copy IS the pinned content; other manifests
    *     referencing the same rel resolve to the live file);
    *   - the `_deletes/` sidecar tree is rebuilt from `m`'s EMBEDDED
    *     ordinals — post-`m` merge-on-read deletes un-happen, pre-`m`
    *     ones re-materialize.
    *
    * The skip index drops entries of shards that left; restored shards
    * scan index-unseen (conservative) until the next build. Manifests
    * NEWER than `m` stay listed (Iceberg semantics: rollback moves the
    * live state, `expire_snapshots` bounds history). Returns (shards
    * removed from live, shards restored). */
  def rollback(fs: FileSystem, table: Path, m: Manifest): (Int, Int) = {
    require(m.id > 0, "rollback needs a PINNED snapshot")
    requireNoCrashedSwaps(fs, table, "rollback")
    // a STALE intent marker is a commit that landed shards but died
    // before its pin: those shards are in NO manifest, so pass 1 would
    // DELETE them unrecoverably (retained/ only keeps manifest-
    // referenced shards). Repair first — any pin folds them in.
    val staleMs = fs.getConf.getLong(ClaimStaleMsKey, DefaultClaimStaleMs)
    val nowR = System.currentTimeMillis()
    val crashed = fs.listStatus(dir(table)).filter { st =>
      st.getPath.getName.startsWith(".intent.") &&
        nowR - st.getModificationTime > staleMs
    }
    require(crashed.isEmpty,
      s"rollback refused: crashed auto-snapshot commit(s) left intent " +
        s"marker(s) ${crashed.map(_.getPath.getName).mkString(", ")} under " +
        s"$table — their shards are pinned by no manifest and rollback " +
        "would delete them; CALL expire_staging (which pins a full " +
        "listing, then reclaims the markers) first")
    // pre-rollback sidecar state, read BEFORE pass 3 wipes `_deletes/`:
    // a COMMON shard whose ordinal set changes gets a different visible
    // row set, so its skip-index entry (built over the delete-filtered
    // read) would wrongly prune or answer COUNT/MIN/MAX afterwards
    val preDeletes: Map[String, Array[Long]] =
      JsonlDeletes.index(fs, table).map { case (shard, sc) =>
        shard -> JsonlDeletes.read(fs, new Path(sc))
      }
    val referenced = referencedRels(fs, table)
    val qualified = fs.makeQualified(table).toUri
    // pass 1: live shards not pinned by m leave (retain-or-delete)
    val removedRels = JsonlLayout.discoverFull(fs, table).flatMap {
      case (p, _, _, _) =>
        val rel = qualified.relativize(fs.makeQualified(p).toUri).getPath
        if (m.shards.contains(rel)) None
        else { discardShard(fs, table, p, rel, referenced); Some(rel) }
    }
    // pass 2: pinned shards missing from live move back from retained/
    var restored = 0
    val restoredRels = Seq.newBuilder[String]
    m.shards.keysIterator.foreach { rel =>
      val live = new Path(table, rel)
      if (!fs.exists(live)) {
        val kept = new Path(retainedRoot(table), rel)
        require(fs.exists(kept),
          s"rollback: snapshot shard $rel missing from both the table " +
            "and retained/ — was it deleted outside the connector?")
        fs.mkdirs(live.getParent)
        if (!fs.rename(kept, live))
          throw new java.io.IOException(s"rollback restore failed for $rel")
        restored += 1
        restoredRels += rel
      }
    }
    // skip-index invalidation: shards that LEFT, shards RESTORED
    // (conservative — scan index-unseen until the next build, per the
    // docstring's contract), and common shards whose sidecar ordinal
    // set pass 3 is about to change (their entries were computed over
    // a different visible row set)
    val changedRels = m.shards.iterator.collect {
      case (rel, ref)
          if !preDeletes.getOrElse(
              fs.makeQualified(new Path(table, rel)).toString,
              Array.empty[Long]).toSet.equals(ref.deletes.toSet) =>
        rel
    }.toSeq
    JsonlSkipIndex.removeEntries(fs, table,
      (removedRels ++ restoredRels.result() ++ changedRels).distinct)
    // prune emptied partition dirs so dropped values leave the layout
    def prune(dir: Path): Boolean = {
      if (!fs.getFileStatus(dir).isDirectory) return false
      val remaining = fs.listStatus(dir).filterNot { st =>
        st.isDirectory && st.getPath.getName.contains("=") && prune(st.getPath)
      }
      if (remaining.isEmpty && dir != table) { fs.delete(dir, false); true }
      else false
    }
    prune(table)
    // pass 3: sidecar state = exactly m's embedded ordinals
    fs.delete(new Path(table, JsonlDeletes.DirName), true)
    m.shards.foreach { case (rel, ref) =>
      if (ref.deletes.nonEmpty)
        JsonlDeletes.append(fs, fs.getConf, table, new Path(table, rel),
          ref.deletes)
    }
    // pass 4: equality-delete state = exactly m's pinned key files
    // (the same retain-or-restore protocol as shards — names are
    // sequence-unique and the files immutable). Claims, tombstones,
    // and the hwm stay: sequence numbering never regresses, so waves
    // after the rollback still outrank every restored stamp.
    JsonlEqDeletes.pendingNames(fs, table)
      .filterNot(m.eqFiles.contains).foreach { name =>
        // retain-ALWAYS, not retain-if-referenced: a lock-free wave's
        // delta pin may be about to reference a key file no published
        // manifest names yet; expire reclaims unreferenced ones later
        val live = new Path(JsonlEqDeletes.dir(table), name)
        val kept = new Path(
          new Path(retainedRoot(table), JsonlEqDeletes.DirName), name)
        if (fs.exists(kept)) fs.delete(live, false)
        else {
          fs.mkdirs(kept.getParent)
          if (!fs.rename(live, kept))
            throw new java.io.IOException(
              s"rollback equality-delete retention failed for $name")
        }
      }
    m.eqFiles.foreach { name =>
      val live = new Path(JsonlEqDeletes.dir(table), name)
      if (!fs.exists(live)) {
        val kept = new Path(
          new Path(retainedRoot(table), JsonlEqDeletes.DirName), name)
        require(fs.exists(kept),
          s"rollback: snapshot equality-delete file $name missing from " +
            "both the table and retained/ — was it deleted outside the " +
            "connector?")
        fs.mkdirs(live.getParent)
        if (!fs.rename(kept, live))
          throw new java.io.IOException(s"rollback restore failed for $name")
      }
    }
    (removedRels.size, restored)
  }

  /** Drop all but the newest `keepLast` manifests, then every retained
    * file no surviving manifest references. Returns (manifests
    * removed, retained files removed). */
  def expire(fs: FileSystem, table: Path, keepLast: Int): (Int, Int) = {
    val all = list(fs, table)
    val (keep, drop) = all.splitAt(math.max(0, all.size - math.max(0, keepLast)))
      match { case (d, k) => (k, d) }
    drop.foreach(m => fs.delete(manifestFile(table, m.id), false))
    // the survivor set covers shard rels AND retained equality key
    // files (kept under retained/_eq_deletes/<name>)
    val still = keep.iterator.flatMap(_.shards.keysIterator).toSet ++
      keep.iterator.flatMap(_.eqFiles.iterator)
        .map(n => s"${JsonlEqDeletes.DirName}/$n").toSet
    val root = retainedRoot(table)
    var removed = 0
    def walk(d: Path): Unit = if (fs.exists(d))
      fs.listStatus(d).foreach { st =>
        if (st.isDirectory) { walk(st.getPath)
          if (fs.listStatus(st.getPath).isEmpty) fs.delete(st.getPath, false) }
        else if (!still.contains(relOf(fs, root, st.getPath))) {
          fs.delete(st.getPath, false); removed += 1
        }
      }
    walk(root)
    if (fs.exists(root) && fs.listStatus(root).isEmpty)
      fs.delete(root, false)
    if (keep.isEmpty && fs.exists(dir(table)) &&
        fs.listStatus(dir(table)).isEmpty)
      fs.delete(dir(table), false)
    (drop.size, removed)
  }

  // ------------------------------------------------------------ json

  private def write(fs: FileSystem, mf: Path, m: Manifest): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("id", m.id)
    m.tag.foreach(root.put("tag", _))
    root.put("createdMs", m.createdMs)
    root.put("schema", m.schemaJson)
    val sn = root.putObject("shards")
    m.shards.toSeq.sortBy(_._1).foreach { case (rel, ref) =>
      val e = sn.putObject(rel)
      e.put("len", ref.len)
      if (ref.deletes.nonEmpty) {
        val a = e.putArray("deletes")
        ref.deletes.foreach(a.add)
      }
    }
    if (m.eqFiles.nonEmpty) {
      val en = root.putArray("eq")
      m.eqFiles.sorted.foreach(en.add)
    }
    fs.mkdirs(mf.getParent)
    val tmp = new Path(mf.getParent, s".${mf.getName}.tmp")
    val out = fs.create(tmp, true)
    out.write(mapper.writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
    out.close()
    if (!fs.rename(tmp, mf))
      throw new java.io.IOException(s"snapshot manifest publish failed for $mf")
  }

  private def read(fs: FileSystem, mf: Path): Manifest = {
    val in = fs.open(mf)
    val bytes = try in.readAllBytes() finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(bytes, StandardCharsets.UTF_8))
    val shards = Map.newBuilder[String, ShardRef]
    node.get("shards").properties().forEach { e =>
      val del = e.getValue.get("deletes")
      val ds =
        if (del == null) Array.empty[Long]
        else (0 until del.size).map(i => del.get(i).asLong).toArray
      shards += e.getKey -> ShardRef(e.getValue.get("len").asLong, ds)
    }
    val eq = Option(node.get("eq")).map(en =>
      (0 until en.size).map(en.get(_).asText)).getOrElse(Nil)
    Manifest(node.get("id").asLong,
      Option(node.get("tag")).map(_.asText),
      node.get("createdMs").asLong, node.get("schema").asText,
      shards.result(), eq)
  }

  /** The pinned layout a snapshot scan plans from: (resolved physical
    * path, byte length, partition values parsed from the REL path —
    * a retained shard keeps its original partition identity, not its
    * `_snapshots/retained/...` location, embedded delete ordinals). */
  def pinnedLayout(fs: FileSystem, table: Path, m: Manifest,
                   segAliases: Map[String, String] = Map.empty)
      : Seq[(String, Long, Map[String, Option[String]], Array[Long])] =
    m.shards.toSeq.sortBy(_._1).map { case (rel, ref) =>
      val pv = JsonlLayout.partValuesFromRel(rel, segAliases)
      (fs.makeQualified(resolve(fs, table, rel)).toString, ref.len, pv,
        ref.deletes)
    }
}
