package graft.store

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** One file added to the table: `path` is RELATIVE to the table root
  * (`partition=<p>/<file>.parquet`), `partition` is the hive partition
  * value it belongs to (file-level pruning reads the log, not the
  * directory tree). `sv` is the SCHEMA EPOCH the file was written
  * under — an index into the table's ordered schema-declaration list —
  * so an evolved table's reader knows which physical schema to open
  * each file with (the parquet reader cannot widen e.g. int64→double
  * on its own).
  *
  * `tmin`/`tmax` are the file's event-time bounds in epoch MICROS
  * (from the parquet footer at install time) — Delta-style file-level
  * data skipping: a ranged read drops non-overlapping files from log
  * metadata alone, one level finer than partition pruning (a
  * micro-batch-accumulated day holds many files, each covering a
  * narrow slice). Absent when the footer had no usable stats — such
  * files are always scanned (the safe direction).
  *
  * The fields are optional in the JSON a log line carries: a log
  * written before a field existed, or a foreign or hand-edited one,
  * may leave `sv`, `fsize` or the stats out. The store replays every
  * log into one format (`TimeseriesStore.declare`): there each add has
  * its epoch and size, and its stats unless its footer holds none.
  */
final case class TxAdd(
    path: String,
    partition: String,
    sv: Option[Long] = None,
    tmin: Option[Long] = None,
    tmax: Option[Long] = None,
    // value-column min/max (file skipping on the SECOND dimension) —
    // recorded by EVERY staged write whose value column is physically
    // DOUBLE (same footer read as the time bounds), so the stats
    // survive DELETE/UPDATE/merge/optimize rewrites; absent on
    // non-numeric values, and a file without them simply always
    // qualifies
    vmin: Option[Double] = None,
    vmax: Option[Double] = None,
    // exact row count from the footer (Delta's numRecords): lets
    // COUNT/bounds queries answer from log metadata with NO scan, and
    // sizes a driver read; absent only when the footer could not be
    // read, which disables those fast paths only
    nrec: Option[Long] = None,
    // per-file Bloom filter over column `blc` (Delta's bloom index):
    // exact-match probes skip files whose bloom excludes the key —
    // the dimension min/max stats can't prune when values interleave
    // across files. `bl` is the self-describing FileBloom payload;
    // absent (pre-declaration files, undecodable payloads, probes on
    // a different column) degrades to never-skip
    blc: Option[String] = None,
    bl: Option[String] = None,
    // file byte size (Delta's `size`): lets reads build the scan's
    // FileIndex from log metadata alone — no filesystem listing, no
    // footer probe for split planning
    fsize: Option[Long] = None,
    // deduped: Some(true) on the adds a compaction writes — its
    // partition's one-row-per-time output, at the epoch and bloom
    // declaration of that compaction (TimeseriesStore.compact skips a
    // partition whose every add says so, at today's epoch and bloom).
    // Every other writer leaves it absent, and absent means dirty: a
    // save, optimize or row rewrite may add duplicates or change the
    // file set, and a legacy or foreign add proves nothing, so its
    // partition is rewritten by the next compaction
    dd: Option[Boolean] = None)

/** A table version as one replay yields it: the live files, the
  * ordered schema declarations their `sv` epochs index, the active
  * CHECK constraints (declaration-ordered) and the bloom-index
  * declaration in effect, if any. */
final case class TxSnapshot(
    adds: Seq[TxAdd],
    schemas: Seq[String],
    checks: Seq[(String, String)] = Nil,
    bloom: Option[(String, Int, Int)] = None)

/** One file logically deleted from the table (bytes stay on disk until
  * `vacuum`, so readers holding an older snapshot keep working).
  */
final case class TxRemove(path: String)

/** One log line: an add, a remove, or a transaction marker.
  *
  * Two transaction forms, matching the Delta `SetTransaction` idea at
  * its two fidelity levels:
  *  - `txn`: an OPAQUE id; the log remembers every id ever seen, so
  *    checkpoint state grows with total history. Fine for bounded jobs.
  *  - `txnApp` + `txnVer`: a (writer id, monotonically increasing
  *    version) pair — the log keeps only the LATEST version per app
  *    (exactly the paper's appId/version contract), so a year-long
  *    streaming sink carries O(#streams) transaction state instead of
  *    O(#batches). A replayed batch re-presents the same version and
  *    no-ops; versions only move forward.
  */
final case class TxAction(
    add: Option[TxAdd] = None,
    remove: Option[TxRemove] = None,
    txn: Option[String] = None,
    txnApp: Option[String] = None,
    txnVer: Option[Long] = None,
    // table-schema declaration (StructType json) — the Delta metaData
    // idea: the schema in effect from this commit on. Declarations are
    // ordered by replay; an add's `sv` indexes that order. Reads at an
    // old version see only the declarations at-or-below it, so old
    // snapshots read the old schema.
    schemaJson: Option[String] = None,
    // a named CHECK constraint declaration (Delta table constraints):
    // from this commit on, writers must prove every incoming row
    // satisfies `checkExpr` (a SQL boolean over the table's columns)
    // before committing. Constraints accumulate in declaration order;
    // re-declaring a name REPLACES its expression (declare `true` to
    // effectively drop one). Enforcement is the WRITER's obligation —
    // replay just carries the contract.
    checkName: Option[String] = None,
    checkExpr: Option[String] = None,
    // bloom-index declaration (Delta's bloom filter index as a table
    // property): from this commit on, writers attach a `bloomBits`-bit
    // `bloomK`-hash FileBloom over column `bloomCol` to every add.
    // Latest declaration wins; declaring bits = 0 drops the index.
    bloomCol: Option[String] = None,
    bloomBits: Option[Int] = None,
    bloomK: Option[Int] = None,
    // commit-info wall-clock (FIRST line of a commit/checkpoint file):
    // AS OF TIMESTAMP resolves from this, not file mtime — mtimes don't
    // survive a byte-copy of the log dir, and the hard-link install
    // preserves the PRE-install tmp file's mtime, so racing writers can
    // interleave non-monotonic mtimes across versions. Absent on
    // pre-upgrade commits (mtime fallback). State replay ignores it.
    commitTs: Option[Long] = None)

/** Minimal single-table transaction log — the Delta-protocol idea
  * (Armbrust et al., "Delta Lake: High-Performance ACID Table Storage
  * over Cloud Object Stores", VLDB 2020) reduced to what a feature
  * store needs, with no external dependency:
  *
  *  - the table's state is the REPLAY of numbered JSON commit files in
  *    `<table>/_txlog/` (`%020d.json`, each line one add/remove action);
  *  - a commit becomes visible atomically: the file is staged hidden in
  *    the log dir and installed with a no-overwrite rename, so readers
  *    see all of a commit or none of it — there is no moment where a
  *    compaction's removes are visible but its adds are not;
  *  - writers are optimistic: losing the rename race means the version
  *    was taken — re-read, bump, retry (append-only commits never
  *    conflict semantically, so blind retry is sound);
  *  - every Nth commit also writes a `%020d.checkpoint.json` holding
  *    the full live set, bounding replay cost for long-lived tables;
  *  - old versions remain readable (time travel) until `vacuum` deletes
  *    unreferenced bytes.
  *
  * Same durability envelope as the paper's HDFS story: rename-based
  * commits are atomic on POSIX/HDFS; an eventually-consistent object
  * store would need a CAS'ing log service on the side (exactly Delta's
  * S3 LogStore caveat). Single table, single JVM-cluster writer group.
  */
class TxLog(
    hadoopConf: Configuration,
    tableDir: String,
    fsOverride: Option[org.apache.hadoop.fs.FileSystem] = None) {
  import TxLog._

  private val logDir = new Path(tableDir, LogDirName)
  // fsOverride carries the owning store's options-scoped instance —
  // the process-wide FileSystem cache ignores the Configuration, so
  // resolving here would drop per-namespace credentials (see
  // TimeseriesStore.fs)
  private def fs = fsOverride.getOrElse(logDir.getFileSystem(hadoopConf))

  /** Numbered versions present in the log, ascending. */
  private def versions(): Seq[(Long, Boolean)] = { // (version, isCheckpoint)
    if (!fs.exists(logDir)) return Seq.empty
    fs.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .collect {
        case CommitName(v)     => (v.toLong, false)
        case CheckpointName(v) => (v.toLong, true)
      }
      .sortBy(t => (t._1, t._2))
  }

  /** Highest version present in the log — commit OR checkpoint files
    * count: after `vacuum` prunes commits subsumed by a checkpoint, the
    * checkpoint file is what carries the version high-water mark (a
    * commit-only reading would restart numbering below it and corrupt
    * ordering).
    */
  def latestVersion(): Long =
    versions().lastOption.map(_._1).getOrElse(-1L)

  /** AS OF TIMESTAMP resolution: the newest version whose commit
    * instant is <= tsMillis. The instant comes from the commit-info
    * `commitTs` line each commit/checkpoint embeds (first line —
    * resolution reads ONE line per surviving log file); pre-upgrade
    * files without it fall back to the Delta mtime rule (mtimes
    * survive in-place on POSIX/HDFS but NOT a byte-copy of the log
    * dir). Checkpoint files count as resolution anchors too: after
    * vacuum prunes the commits a checkpoint subsumes, the checkpoint's
    * version is still readable state and must stay addressable — only
    * an instant before the EARLIEST surviving anchor throws, rather
    * than silently snapping forward. Instants are made monotonic
    * non-decreasing in version order at read time (running max, the
    * Delta adjustment), so racing writers' clock skew can never make a
    * later version resolve before an earlier one.
    */
  def versionAt(tsMillis: Long): Long = {
    if (!fs.exists(logDir))
      throw new IllegalArgumentException(s"no transaction log at $logDir")
    // one anchor per version: the commit file's instant is authoritative
    // where both a commit and its checkpoint survive (the checkpoint is
    // written AFTER the commit, so its mtime fallback would skew late)
    val anchors = fs.listStatus(logDir).toSeq.filter(_.isFile)
      .flatMap { st =>
        st.getPath.getName match {
          case CommitName(v)     => Some((v.toLong, false, st))
          case CheckpointName(v) => Some((v.toLong, true, st))
          case _                 => None
        }
      }
      .groupBy(_._1).toSeq
      .map { case (v, es) =>
        val st = es.sortBy(_._2).head._3 // commit (false) before checkpoint
        (v, embeddedTs(st.getPath).getOrElse(st.getModificationTime))
      }
      .sortBy(_._1)
    // running max: monotonic non-decreasing instants in version order
    val mono = anchors.scanLeft((Long.MinValue, Long.MinValue)) {
      case ((_, prevTs), (v, ts)) => (v, math.max(prevTs, ts))
    }.drop(1)
    val at = mono.filter(_._2 <= tsMillis)
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"no commit at or before ts=$tsMillis — earliest surviving version is " +
          s"${mono.headOption.map(c => s"v${c._1}@${c._2}").getOrElse("<none>")} " +
          "(older history may have been vacuumed)")
    at.map(_._1).max
  }

  /** The commit-info instant embedded as a log file's first line, if
    * the file was written by a commitTs-aware writer. */
  private def embeddedTs(p: Path): Option[Long] = {
    val in = fs.open(p)
    try {
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      Option(reader.readLine()).filter(_.nonEmpty)
        .flatMap(l => scala.util.Try(mapper.readValue(l, classOf[TxAction])).toOption)
        .flatMap(_.commitTs)
    } finally in.close()
  }

  /** Live file set at `asOf` (default: latest), replayed from the most
    * recent checkpoint at-or-before it. Deterministic: adds/removes
    * apply in version order, and within a commit in line order.
    */
  def snapshot(asOf: Option[Long] = None): Seq[TxAdd] = replay(asOf)._1

  /** Live files, schema declarations, checks and bloom config at
    * `asOf` (default: latest) from ONE replay — one log listing where
    * [[snapshot]], [[schemaHistory]] and [[bloomConfig]] pay one each.
    * The checks are the active CHECK constraints in declaration order:
    * (name, boolean SQL expr) pairs writers enforce on every incoming
    * batch. What every read that opens files, and every write that
    * validates and stages a batch, needs. */
  def state(asOf: Option[Long] = None): TxSnapshot = {
    val r = replay(asOf)
    TxSnapshot(r._1, r._4, r._5, r._6.lastOption.filter(_._2 > 0))
  }

  /** Ordered table-schema declarations visible at `asOf` (default:
    * latest) — the last entry is the schema in effect; an add's `sv`
    * indexes this list. Empty for a table no write has declared one
    * for yet. */
  def schemaHistory(asOf: Option[Long] = None): Seq[String] = replay(asOf)._4

  /** Active bloom-index declaration at `asOf` (default: latest), if
    * any: (column, bits, hashes). Latest declaration wins; a bits = 0
    * declaration reads back as None (index dropped). */
  def bloomConfig(asOf: Option[Long] = None): Option[(String, Int, Int)] = state(asOf).bloom

  /** Has a commit carrying this application transaction id ever landed?
    * The restart-idempotence primitive for streaming writers.
    */
  def txnSeen(id: String): Boolean = replay(None)._2.contains(id)

  /** Latest committed version for a structured-txn writer, if any. */
  def txnLatest(app: String): Option[Long] = replay(None)._3.get(app)

  /** Has (app, ver) — or anything newer from `app` — already landed? */
  def txnSeen(app: String, ver: Long): Boolean =
    replay(None)._3.get(app).exists(_ >= ver)

  // Incremental replay cache: the EXACT table state with every commit
  // <= cacheVersion applied. Commit files are immutable once installed
  // (the no-overwrite rename), so a cached state can only ever be
  // EXTENDED by newer commits, never invalidated — a long-lived writer
  // (the streaming sink's per-micro-batch txn validation) pays O(new
  // commits since its last replay) per commit instead of re-reading
  // the checkpoint's full add+txn line set, which grows with total
  // history. A cold instance (restart) still pays one O(history)
  // anchor replay, then rides the cache. Guarded by `synchronized` —
  // one TxLog may be shared across committer threads.
  private var cacheVersion: Long = -1L
  private val cacheLive = scala.collection.mutable.LinkedHashMap[String, TxAdd]()
  private val cacheTxns = scala.collection.mutable.Set[String]()
  private val cacheApps = scala.collection.mutable.Map[String, Long]()
  private val cacheSchemas = scala.collection.mutable.ArrayBuffer[String]()
  private val cacheChecks = scala.collection.mutable.LinkedHashMap[String, String]()
  private val cacheBlooms = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
  // newest version this instance has OBSERVED (committed, listed, or
  // replayed) — the commit loop's version guess, so a single committer
  // never pays a per-commit directory listing
  private var knownHighWater: Long = -1L

  private def applyTo(
      live: scala.collection.mutable.LinkedHashMap[String, TxAdd],
      txns: scala.collection.mutable.Set[String],
      apps: scala.collection.mutable.Map[String, Long],
      schemas: scala.collection.mutable.ArrayBuffer[String],
      checks: scala.collection.mutable.LinkedHashMap[String, String],
      blooms: scala.collection.mutable.ArrayBuffer[(String, Int, Int)])(a: TxAction): Unit = {
    a.add.foreach(ad => live(ad.path) = ad)
    a.remove.foreach(rm => live.remove(rm.path))
    a.txn.foreach(txns += _)
    // latest-version-per-app: versions only move forward (a stale
    // replayed version must never regress the high-water mark)
    for (app <- a.txnApp; ver <- a.txnVer)
      apps(app) = math.max(apps.getOrElse(app, Long.MinValue), ver)
    // schema declarations append in replay order — their index IS the
    // epoch an add's `sv` points at
    a.schemaJson.foreach(schemas += _)
    // named constraints: re-declaring a name replaces its expression
    for (cn <- a.checkName; ce <- a.checkExpr) checks(cn) = ce
    // bloom declarations append; the LAST one is in effect
    for (bc <- a.bloomCol; bb <- a.bloomBits; bk <- a.bloomK) blooms += ((bc, bb, bk))
  }

  private def replay(asOf: Option[Long])
      : (Seq[TxAdd], Set[String], Map[String, Long], Seq[String], Seq[(String, String)],
         Seq[(String, Int, Int)]) = synchronized {
    // listing-free shortcut: the cache IS the exact state at
    // cacheVersion, and committed versions are immutable — a request
    // for precisely that version (the commit loop's validation replay)
    // needs no directory listing at all
    asOf match {
      case Some(u) if u == cacheVersion =>
        return (cacheLive.values.toList, cacheTxns.toSet, cacheApps.toMap,
          cacheSchemas.toList, cacheChecks.toList, cacheBlooms.toList)
      case _ =>
    }
    val vs = versions()
    vs.lastOption.foreach(t => knownHighWater = math.max(knownHighWater, t._1))
    val upTo = asOf.getOrElse(Long.MaxValue)
    // eligible = everything at-or-below the target version; after log
    // vacuum a checkpoint may be the ONLY survivor of its prefix, so
    // the anchor is the newest eligible checkpoint, not "newest at or
    // below the last commit file"
    val eligible = vs.filter(_._1 <= upTo)
    if (eligible.isEmpty) {
      // an empty ELIGIBLE set on a non-empty log means the requested
      // version was pruned by vacuum's log retention — failing loudly
      // beats handing back an empty table that looks legitimate (data
      // vacuum at least fails with FileNotFound; the log must match)
      if (vs.nonEmpty)
        throw new IllegalStateException(
          s"version $upTo has been vacuumed from $logDir: " +
            s"oldest surviving version is ${vs.head._1}")
      return (Seq.empty, Set.empty, Map.empty, Seq.empty, Seq.empty, Seq.empty)
    }
    val target = eligible.last._1
    val commitSet = eligible.collect { case (v, false) => v }.toSet
    // fast path: extend the cached state with just the commits that
    // landed after it. Requires every version in (cacheVersion, target]
    // to still exist as a COMMIT file — a log vacuum may have pruned
    // some in favor of a checkpoint, in which case fall through to the
    // anchored full replay (which then refreshes the cache).
    if (cacheVersion >= 0 && cacheVersion <= target &&
      ((cacheVersion + 1) to target).forall(commitSet.contains)) {
      ((cacheVersion + 1) to target).foreach { v =>
        readActions(new Path(logDir, f"$v%020d.json"))
          .foreach(applyTo(cacheLive, cacheTxns, cacheApps, cacheSchemas, cacheChecks, cacheBlooms))
      }
      cacheVersion = target
      return (cacheLive.values.toList, cacheTxns.toSet, cacheApps.toMap,
        cacheSchemas.toList, cacheChecks.toList, cacheBlooms.toList)
    }
    val ckpt = eligible.filter(_._2).map(_._1).lastOption
    val live = scala.collection.mutable.LinkedHashMap[String, TxAdd]()
    val txns = scala.collection.mutable.Set[String]()
    val apps = scala.collection.mutable.Map[String, Long]()
    val schemas = scala.collection.mutable.ArrayBuffer[String]()
    val checks = scala.collection.mutable.LinkedHashMap[String, String]()
    val blooms = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    ckpt.foreach { cv =>
      readActions(new Path(logDir, f"$cv%020d.checkpoint.json"))
        .foreach(applyTo(live, txns, apps, schemas, checks, blooms))
    }
    eligible.filterNot(_._2).map(_._1).filter(c => ckpt.forall(_ < c)).foreach { v =>
      readActions(new Path(logDir, f"$v%020d.json"))
        .foreach(applyTo(live, txns, apps, schemas, checks, blooms))
    }
    // adopt this state as the cache unless it is a time-travel read
    // BELOW the version the cache already holds (never regress)
    if (target > cacheVersion) {
      cacheVersion = target
      cacheLive.clear(); cacheLive ++= live
      cacheTxns.clear(); cacheTxns ++= txns
      cacheApps.clear(); cacheApps ++= apps
      cacheSchemas.clear(); cacheSchemas ++= schemas
      cacheChecks.clear(); cacheChecks ++= checks
      cacheBlooms.clear(); cacheBlooms ++= blooms
    }
    (live.values.toList, txns.toSet, apps.toMap, schemas.toList, checks.toList, blooms.toList)
  }

  private def readActions(p: Path): Seq[TxAction] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(mapper.readValue(_, classOf[TxAction])).toList
    finally in.close()
  }

  /** Append one atomic commit; returns the committed version, or -1 if
    * `txnId` is given and a commit carrying it already landed (the
    * exactly-once no-op — the caller's staged files are unreferenced
    * and reclaimed by `vacuum`). Retries with a fresh version number
    * when the optimistic rename loses the race, and re-validates
    * BEFORE every attempt — the version-number rename serializes
    * commits, and validation replays everything below the attempted
    * version, so the check-then-install pair is a real optimistic
    * concurrency control, not a one-shot pre-check:
    *
    *  - `txnId` is re-checked each attempt: two writers replaying the
    *    same micro-batch (zombie driver + its replacement, Delta's
    *    SetTransaction scenario) race the rename; the loser re-reads,
    *    sees the winner's txn marker, and no-ops instead of
    *    double-committing.
    *  - `removes` must all still be live each attempt: two racing
    *    compactions both publish a full rewritten copy — without this
    *    the loser would blindly retry and the table would carry BOTH
    *    copies (2x storage and scan). The loser now fails with
    *    ConcurrentModificationException; its staged files are
    *    unreferenced and vacuumable.
    *  - `restated` are adds of live files written again with more of
    *    their metadata; one a concurrent commit retired (or this one
    *    removes) is left out, since re-adding it would revive the file.
    *
    * Pure appends (adds only, no txn) never conflict semantically, so
    * they keep the validation-free blind retry. `schemas` are declared
    * in order, ahead of the adds written under them.
    */
  def commit(
      adds: Seq[TxAdd],
      removes: Seq[TxRemove] = Nil,
      txnId: Option[String] = None,
      maxAttempts: Int = 20,
      txnAppVer: Option[(String, Long)] = None,
      schemas: Seq[String] = Nil,
      check: Option[(String, String)] = None,
      bloom: Option[(String, Int, Int)] = None,
      restated: Seq[TxAdd] = Nil): Long = {
    require(adds.nonEmpty || removes.nonEmpty || schemas.nonEmpty || check.isDefined ||
      bloom.isDefined, "empty commit")
    // commit-info instant FIRST so versionAt reads one line per file;
    // a schema declaration precedes the adds written under it
    val commitTs = System.currentTimeMillis()
    val removed = removes.map(_.path).toSet
    def actionsWith(live: Seq[TxAdd]) = TxAction(commitTs = Some(commitTs)) +:
      (schemas.map(sj => TxAction(schemaJson = Some(sj))) ++
        check.map { case (cn, ce) =>
          TxAction(checkName = Some(cn), checkExpr = Some(ce)) }.toSeq ++
        bloom.map { case (bc, bb, bk) =>
          TxAction(bloomCol = Some(bc), bloomBits = Some(bb), bloomK = Some(bk)) }.toSeq ++
        (live ++ adds).map(a => TxAction(add = Some(a))) ++
        removes.map(r => TxAction(remove = Some(r))) ++
        txnId.map(t => TxAction(txn = Some(t))) ++
        txnAppVer.map { case (app, ver) =>
          TxAction(txnApp = Some(app), txnVer = Some(ver)) })
    if (!fs.exists(logDir)) fs.mkdirs(logDir)
    var attempt = 0
    // version guessing: a long-lived committer attempts knownHighWater+1
    // without re-LISTing the log dir (the listing is O(total commits)
    // and was the measured per-commit cost floor at 1k commits); a lost
    // rename — a foreign writer took the version — forces a resync.
    // The no-overwrite install keeps this exactly as safe as list-first:
    // a stale guess can never overwrite, only lose and resync.
    var resync = synchronized { knownHighWater } < 0
    while (attempt < maxAttempts) {
      if (resync) {
        val listed = latestVersion()
        synchronized { knownHighWater = math.max(knownHighWater, listed) }
        resync = false
      }
      val v = synchronized { math.max(knownHighWater, cacheVersion) } + 1
      var restatedLive = restated
      if (txnId.isDefined || txnAppVer.isDefined || removes.nonEmpty || restated.nonEmpty) {
        // replay capped at v-1: exactly the commits this attempt builds
        // on; anything landing after is serialized by the rename below
        val (liveAdds, txns, apps, _, _, _) = replay(Some(v - 1))
        if (txnId.exists(txns.contains)) return -1L
        // structured form: duplicate iff this app already landed this
        // version OR NEWER (a zombie replaying an old batch no-ops)
        if (txnAppVer.exists { case (app, ver) => apps.get(app).exists(_ >= ver) })
          return -1L
        val live = liveAdds.map(_.path).toSet
        removes.find(r => !live.contains(r.path)).foreach { r =>
          throw new java.util.ConcurrentModificationException(
            s"commit conflict on $logDir: ${r.path} was already retired by a concurrent commit")
        }
        restatedLive = restated.filter(a => live(a.path) && !removed(a.path))
      }
      val actions = actionsWith(restatedLive)
      val lines = actions.map(mapper.writeValueAsString).mkString("", "\n", "\n")
      val tmp = new Path(logDir, s".tmp-${java.util.UUID.randomUUID()}.json")
      val out = fs.create(tmp, true)
      try out.write(lines.getBytes("UTF-8")) finally out.close()
      if (installNoOverwrite(tmp, new Path(logDir, f"$v%020d.json"))) {
        synchronized {
          knownHighWater = math.max(knownHighWater, v)
          // self-apply: the committer knows exactly what it installed,
          // so a cache sitting at v-1 advances to v with no file read —
          // the checkpoint's replay then needs no listing either
          if (cacheVersion == v - 1) {
            actions.foreach(applyTo(cacheLive, cacheTxns, cacheApps, cacheSchemas,
              cacheChecks, cacheBlooms))
            cacheVersion = v
          }
        }
        maybeCheckpoint(v, commitTs)
        return v
      }
      fs.delete(tmp, false)
      resync = true
      attempt += 1
      // contention backoff (the r17 multi-writer probe's finding: 8
      // foreign writers in a tight commit loop starved one past 20
      // lost renames): a lost rename means ANOTHER writer advanced the
      // log, so sleeping a bounded attempt-scaled interval before the
      // re-list turns an N-writer retry storm — O(N^2) list+stage work
      // per committed version — into near-linear hand-offs. Timing
      // only; committed bytes and version order are unaffected. No
      // sleep after the FINAL attempt — nothing retries behind it.
      if (attempt < maxAttempts)
        Thread.sleep(math.min(5L << math.min(attempt, 5), 100L))
    }
    throw new java.io.IOException(
      s"tx commit failed after $maxAttempts attempts (writer contention on $logDir)")
  }

  /** No-overwrite install — the commit-uniqueness primitive. Local
    * filesystems claim the version with a POSIX hard link: link(2)
    * fails EEXIST ATOMICALLY, with no exists-check window and no
    * checksum-sidecar hazard (ChecksumFs's rename moves the `.crc`
    * separately from the data file, so two racing renames that both
    * pass its non-atomic exists check can interleave into a torn
    * json/crc pair — caught by the racing-writers spec). Non-local
    * schemes use FileContext.rename with Rename.NONE, atomic
    * server-side on HDFS; the plain-FileSystem fallback keeps the same
    * exists-check window Delta's HDFSLogStore accepts on connectors
    * without an AbstractFileSystem binding.
    */
  private def installNoOverwrite(tmp: Path, dst: Path): Boolean = {
    val scheme = Option(dst.toUri.getScheme)
      .orElse(Option(fs.getUri.getScheme)).getOrElse("file")
    if (scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, hadoopConf)
        fc.rename(tmp, dst) // Rename.NONE: fails if dst exists
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          if (fs.exists(dst)) false else fs.rename(tmp, dst)
        case _: java.io.IOException => false
      }
  }

  private def maybeCheckpoint(v: Long, commitTs: Long): Unit =
    if (v > 0 && v % CheckpointEvery == 0) {
      // a checkpoint carries the live files AND the transaction state,
      // so restart-idempotence survives the replay horizon. Opaque txn
      // ids are O(total history) forever; structured apps are one line
      // per WRITER — the streaming sink's bounded-state path. Its
      // commit-info instant is commit v's (the state it snapshots), so
      // versionAt keeps resolving v after vacuum prunes the commit.
      // Schema declarations replay IN ORDER ahead of the adds — their
      // indices (the adds' `sv` epochs) must survive the checkpoint.
      val (adds, txns, apps, schemas, checks, blooms) = replay(Some(v))
      val lines = (TxAction(commitTs = Some(commitTs)) +:
        (schemas.map(sj => TxAction(schemaJson = Some(sj))) ++
          checks.map { case (cn, ce) =>
            TxAction(checkName = Some(cn), checkExpr = Some(ce)) } ++
          // only the LATEST bloom declaration is in effect, but replay
          // semantics are last-wins, so one line preserves them
          blooms.lastOption.toSeq.map { case (bc, bb, bk) =>
            TxAction(bloomCol = Some(bc), bloomBits = Some(bb), bloomK = Some(bk)) } ++
          adds.map(a => TxAction(add = Some(a))) ++
          txns.toSeq.sorted.map(t => TxAction(txn = Some(t))) ++
          apps.toSeq.sortBy(_._1).map { case (app, ver) =>
            TxAction(txnApp = Some(app), txnVer = Some(ver)) }))
        .map(mapper.writeValueAsString)
        .mkString("", "\n", "\n")
      val tmp = new Path(logDir, s".tmp-${java.util.UUID.randomUUID()}.json")
      val out = fs.create(tmp, true)
      try out.write(lines.getBytes("UTF-8")) finally out.close()
      // best-effort: a lost race or crash just means replay starts from
      // the previous checkpoint
      if (!installNoOverwrite(tmp, new Path(logDir, f"$v%020d.checkpoint.json")))
        fs.delete(tmp, false)
    }

  /** Physically delete data files no longer referenced by the LATEST
    * snapshot. Time travel to vacuumed versions stops working — same
    * retention trade as the reference paper's VACUUM. `retentionMs`
    * spares files younger than the horizon: a concurrent writer
    * between its stage-install rename and its commit has files on disk
    * that no snapshot references yet, and deleting them would commit a
    * dangling add — the mtime guard (Delta's retention-period answer to
    * the same race) keeps vacuum safe to run alongside writers as long
    * as install→commit completes within the horizon.
    */
  def vacuum(retentionMs: Long = 3600000L): Long = {
    val live = snapshot().map(_.path).toSet
    val table = new Path(tableDir)
    val horizon = System.currentTimeMillis() - retentionMs
    var removed = 0L
    def walk(dir: Path, prefix: String): Unit =
      fs.listStatus(dir).foreach { st =>
        val rel = if (prefix.isEmpty) st.getPath.getName else s"$prefix/${st.getPath.getName}"
        if (st.isDirectory) { if (st.getPath.getName != LogDirName) walk(st.getPath, rel) }
        else if (!live.contains(rel) && !rel.startsWith(LogDirName) &&
          st.getModificationTime <= horizon) {
          if (fs.delete(st.getPath, false)) removed += 1
        }
      }
    if (fs.exists(table)) walk(table, "")
    // crashed committers leave hidden .tmp files in the log dir (the
    // install itself is atomic, so they are never part of any commit):
    // reclaim the stale ones on the same retention horizon
    if (fs.exists(logDir))
      fs.listStatus(logDir)
        .filter(st => st.isFile && st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime <= horizon)
        .foreach(st => if (fs.delete(st.getPath, false)) removed += 1)
    // prune the log itself, or per-commit replay/list cost grows with
    // TOTAL table history forever (a 10s-micro-batch writer is ~8.6k
    // commit files/day of LIST+GET on an object store): commits at or
    // below the newest checkpoint are subsumed by it (a checkpoint
    // carries the live set AND the seen txn ids), and older checkpoints
    // are superseded. Same retention trade as data-file vacuum — time
    // travel below the surviving checkpoint stops working.
    if (fs.exists(logDir)) {
      versions().filter(_._2).map(_._1).lastOption.foreach { lastCkpt =>
        fs.listStatus(logDir).filter(_.isFile).foreach { st =>
          val prune = st.getPath.getName match {
            case CommitName(v)     => v.toLong <= lastCkpt
            case CheckpointName(v) => v.toLong < lastCkpt
            case _                 => false
          }
          if (prune && st.getModificationTime <= horizon &&
            fs.delete(st.getPath, false)) removed += 1
        }
      }
    }
    removed
  }
}

object TxLog {
  // Jackson cannot see through Option[Long]'s erasure and would box a
  // small txnVer as Integer (ClassCastException at first use); the
  // introspector registration pins the reference type. Runs before any
  // mapper use: the registrations precede the mapper val below.
  com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule
    .registerReferencedValueType(classOf[TxAction], "txnVer", classOf[Long])
  com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule
    .registerReferencedValueType(classOf[TxAction], "commitTs", classOf[Long])
  com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule
    .registerReferencedValueType(classOf[TxAdd], "sv", classOf[Long])
  com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule
    .registerReferencedValueType(classOf[TxAdd], "tmin", classOf[Long])
  com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule
    .registerReferencedValueType(classOf[TxAdd], "tmax", classOf[Long])
  com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule
    .registerReferencedValueType(classOf[TxAdd], "vmin", classOf[Double])
  com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule
    .registerReferencedValueType(classOf[TxAdd], "vmax", classOf[Double])
  com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule
    .registerReferencedValueType(classOf[TxAdd], "nrec", classOf[Long])
  com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule
    .registerReferencedValueType(classOf[TxAdd], "fsize", classOf[Long])
  com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule
    .registerReferencedValueType(classOf[TxAdd], "dd", classOf[Boolean])

  // NON_ABSENT: a log line carries only the action fields it uses
  // (an add line must not spell out null txn markers — at checkpoint
  // scale the nulls would dominate the bytes); absent fields read back
  // as None either way, so both spellings stay readable. One mapper for
  // every log (it is thread-safe once built): a per-instance one re-ran
  // the action-class introspection on each replay of a fresh TxLog.
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .serializationInclusion(com.fasterxml.jackson.annotation.JsonInclude.Include.NON_ABSENT)
    .build()

  val LogDirName = "_txlog"
  val CheckpointEvery = 10
  private val CommitName = raw"(\d{20})\.json".r
  private val CheckpointName = raw"(\d{20})\.checkpoint\.json".r
}
