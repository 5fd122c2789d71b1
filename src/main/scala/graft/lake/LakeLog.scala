package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}

import LakeLog.{Commit, Snap}
import VersionedTable.FileMeta

/** The transaction log of one versioned table: every file under
  * `<table>/_graft_log` is read and written here and nowhere else. It
  * takes a Hadoop `FileSystem` and no SparkSession, so nothing here can
  * start a Spark job; [[VersionedTable]] owns the data files and every
  * Spark plan.
  *
  * Layout (the observable parts of the Delta log):
  *  - `v{N}.json` is commit record N: the INCREMENTAL `add`/`remove`
  *    file deltas vs snapshot N-1 plus action, row count and the table
  *    definition — O(commit), never O(table), Delta's add/remove-action
  *    model;
  *  - every `checkpointInterval` commits, `checkpoint-v{N}.json` holds
  *    the COMPLETE file list of version N (Delta's checkpoint). Snapshot
  *    V resolves from the nearest checkpoint ≤ V plus at most
  *    `checkpointInterval` tail records, so a 10⁵-commit table reads a
  *    bounded handful of log files instead of replaying its history;
  *  - `_last_checkpoint` points at the newest checkpoint, so the latest
  *    snapshot resolves from cold with no log listing (2 small reads +
  *    ≤ interval tail records); `versions()` and time travel far behind
  *    the pointer still list the log directory (names only);
  *  - `_vacuum_horizon` is the earliest version vacuum still guarantees;
  *  - `v{N}-{nonce}-stats.jsonl` / `-bloom.jsonl` sidecars describe the
  *    files a commit stages ([[Sidecars]]).
  *
  * A commit record is written under a unique temp name and published at
  * `v{N}.json` only if version N does not exist yet ([[publishExclusive]])
  * — optimistic concurrency: the second of two racing writers fails with
  * a `concurrent commit conflict`, it never silently clobbers (Delta's
  * guarantee on a non-transactional store). Checkpoints, the pointer and
  * the horizon are derived state: written best-effort, so a failed write
  * degrades resolution cost (or the horizon's loud error), never
  * correctness. Vacuum never deletes log files, so checkpoint + tail
  * resolution of retained versions survives any vacuum. */
private[lake] final class LakeLog(fs: FileSystem, tablePath: String,
                                  val checkpointInterval: Int,
                                  settings: LakeLog.PublishSettings) {
  private val logDir = new Path(s"$tablePath/_graft_log")
  private def versionFile(v: Int) = new Path(logDir, f"v$v%08d.json")
  private def checkpointFile(v: Int) = new Path(logDir, f"checkpoint-v$v%08d.json")
  private val lastCheckpointPath = new Path(logDir, "_last_checkpoint")
  private val vacuumHorizonPath = new Path(logDir, "_vacuum_horizon")

  /** The one temp name scheme under the log: a temp file no other
    * writer can pick, so two writers racing for one version never
    * share — and delete — each other's temp file or its checksum. */
  private def tmpPath(name: String) = new Path(logDir, LakeLog.tempName(name))

  // Log files are small UTF-8 JSON documents that LogCodec encodes and
  // decodes (a spark.read.json would cost a job per lookup).
  private def readBody(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
  private def writeBody(p: Path, body: String): Unit = {
    val out = fs.create(p, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** The log directory's entries (empty for a fresh table) — the one
    * listing behind versions, checkpoints and sidecar discovery. */
  private def listLog(): Seq[Path] =
    if (!fs.exists(logDir)) Nil else fs.listStatus(logDir).map(_.getPath).toSeq

  private def numbered(name: scala.util.matching.Regex): Seq[Int] =
    listLog().map(_.getName).collect { case name(n) => n.toInt }.sorted

  /** All committed versions, ascending; empty for a fresh path. */
  def versions(): Seq[Int] = numbered(LakeLog.RecordName)

  def checkpointVersions(): Seq[Int] = numbered(LakeLog.CheckpointName)

  /** Newest committed version. With a `_last_checkpoint` pointer this
    * probes forward from the pointed version (≤ interval + writers-since
    * existence checks — O(1) in table lifetime); only pointer-less tables
    * pay the full log listing. Versions are gap-free by construction
    * (writeCommit publishes v, v+1, ... in sequence), so the first
    * missing record ends the probe. */
  def latestVersion(): Option[Int] = lastCheckpointVersion() match {
    case Some(p) =>
      var v = p
      while (fs.exists(versionFile(v + 1))) v += 1
      Some(v)
    case None => versions().lastOption
  }

  // ---- commit records --------------------------------------------------

  /** Decoded commit records by version. Committed records are immutable,
    * so the memo never goes stale; it makes the commit protocol's
    * repeated metadata lookups and a poll's range walks (e.g.
    * `changeTypesPossible` then `changesBetween`) one file read per
    * record. Capped: cleared when it outgrows `MemoCap`. */
  private val memo = TrieMap[Int, LogCodec.CommitRecord]()
  private val MemoCap = 1024

  def record(v: Int): LogCodec.CommitRecord =
    memo.getOrElse(v, {
      val p = versionFile(v)
      val d = LogCodec.decodeCommit(readBody(p), p)
      d.addMeta.foreach { case (n, m) => fileMetaIndex.put(n, m) }
      if (memo.size >= MemoCap) memo.clear()
      memo.put(v, d)
      d
    })

  /** Name-keyed union of every file meta this handle has seen (log
    * records, checkpoints, its own staging) — the status oracle behind
    * probe-free subset reads. Grows with files observed (≈80 B/entry);
    * names are globally unique and content immutable, so an entry can
    * never go stale. */
  val fileMetaIndex: TrieMap[String, FileMeta] = TrieMap.empty[String, FileMeta]

  def readCommit(v: Int): Commit = {
    val d = record(v)
    Commit(d.version, d.action, resolveSnap(v).files, d.schemaDdl, d.rows, d.ts,
      d.txnApp, d.txnVer, d.dvTargets, d.constraints, d.colMap, d.droppedPhys,
      d.pcols, d.props)
  }

  // ---- checkpoints and the _last_checkpoint pointer --------------------

  /** A checkpoint's file list and file meta. Legacy checkpoints carry no
    * meta: sizes unknown for the base files (readers fall back to one
    * listing). */
  private def readCheckpoint(v: Int): Snap = {
    val p = checkpointFile(v)
    val (files, meta) = LogCodec.decodeCheckpoint(readBody(p), p)
    meta.foreach { case (n, m) => fileMetaIndex.put(n, m) }
    Snap(files, meta)
  }

  /** The pointed-at checkpoint. Derived state with the checkpoint
    * contract: any read problem (missing, torn, pointing at a checkpoint
    * that never landed) reads as no pointer, and resolution falls back
    * to the log listing — correctness never depends on it. */
  private def lastCheckpointVersion(): Option[Int] = try {
    if (!fs.exists(lastCheckpointPath)) None
    else LogCodec.decodeVersion(readBody(lastCheckpointPath))
      .filter(v => fs.exists(checkpointFile(v)))
  } catch { case _: Throwable => None }

  /** Newest checkpoint ≤ v — pointer fast path when it serves `v` within
    * one interval (the hot case: reading the latest snapshot), log
    * listing otherwise (time travel far behind the pointer, or a lost /
    * torn / lagging pointer). */
  private def checkpointAtOrBefore(v: Int): Option[Int] =
    lastCheckpointVersion().filter(p => p <= v && v - p <= checkpointInterval)
      .orElse(checkpointVersions().filter(_ <= v).lastOption)

  /** Checkpoints are write-once via tmp + rename (never torn), and a
    * failure is logged, not thrown — readers just pay more tail records
    * until the next one lands. */
  private def writeCheckpoint(version: Int, snap: Snap, rows: Long, ts: Long,
                              schemaDdl: String): Unit = {
    val dst = checkpointFile(version)
    val tmp = tmpPath(dst.getName)
    try {
      if (!fs.exists(dst)) {
        writeBody(tmp, LogCodec.encodeCheckpoint(version, rows, ts, snap.files,
          snap.meta, schemaDdl))
        if (!fs.rename(tmp, dst)) { fs.delete(tmp, false); return }
      }
      replaceMonotonic(lastCheckpointPath, lastCheckpointVersion().getOrElse(-1),
        version, LogCodec.encodeVersion(version),
        "resolution falls back to log listing")
    } catch { case NonFatal(e) =>
      scala.util.Try(fs.delete(tmp, false))
      System.err.println(s"[lake] checkpoint write failed at v$version " +
        s"(resolution falls back to more tail records): ${e.getMessage}")
    }
  }

  /** The one writer of the monotonic derived files (`_last_checkpoint`,
    * `_vacuum_horizon`): replace `dst` with `body` unless it already
    * holds `current` ≥ `v`. On `file:` schemes `ATOMIC_MOVE` guarantees a
    * reader never sees a missing or torn file (Hadoop's delete-then-
    * rename would open a window where it is simply gone); other stores
    * keep delete + rename, since both readers treat a missing file as a
    * safe fallback. Best-effort: a failure is logged with what it
    * degrades, never thrown. */
  private def replaceMonotonic(dst: Path, current: => Int, v: Int, body: String,
                               degrades: String): Unit = {
    val tmp = tmpPath(dst.getName)
    try {
      if (current >= v) return
      writeBody(tmp, body)
      if (fs.getUri.getScheme == "file") {
        Files.move(java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(dst.toUri.getPath),
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
        // the moved file's Hadoop checksum sidecar stays behind
        fs.delete(new Path(tmp.getParent, s".${tmp.getName}.crc"), false)
      } else {
        fs.delete(dst, false)
        if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
      }
    } catch { case NonFatal(e) =>
      scala.util.Try(fs.delete(tmp, false))
      System.err.println(s"[lake] ${dst.getName} write failed ($degrades): ${e.getMessage}")
    }
  }

  /** (checkpoint used, tail records applied) for resolving `v` from cold
    * state — the spec pins that this stays ≤ checkpointInterval. */
  def resolutionCost(v: Int): (Option[Int], Int) = {
    val ckpt = checkpointAtOrBefore(v)
    (ckpt, v - ckpt.getOrElse(-1))
  }

  /** True when resolving `v` is served by the `_last_checkpoint` pointer
    * alone (no log listing) — the spec pins that reading the LATEST
    * snapshot from a cold handle stays on this O(1) path no matter how
    * many commits the table has. */
  def pointerServes(v: Int): Boolean =
    lastCheckpointVersion().exists(p => p <= v && v - p <= checkpointInterval)

  // ---- vacuum horizon (time-travel interlock) --------------------------

  /** Earliest version whose data files vacuum still guarantees —
    * everything below it is contractually dead even if some of its files
    * happen to survive (e.g. because a later RESTORE re-references
    * them). Reads below it fail LOUDLY with the boundary in the message
    * instead of a raw missing-file error from deep inside a scan — the
    * Delta-style "time travel below the retention horizon" contract. A
    * missing or torn horizon file reads as "no vacuum ever ran" (-1). */
  def vacuumHorizon(): Int = try {
    if (!fs.exists(vacuumHorizonPath)) -1
    else LogCodec.decodeHorizon(readBody(vacuumHorizonPath)).getOrElse(-1)
  } catch { case _: Throwable => -1 }

  /** Raise the horizon to `h` (monotonic; racing vacuums remain the
    * caller's contract — see vacuum's minAgeMs note). */
  def writeVacuumHorizon(h: Int): Unit =
    replaceMonotonic(vacuumHorizonPath, vacuumHorizon(), h,
      LogCodec.encodeHorizon(h, System.currentTimeMillis()),
      "stranded time travel will fail at scan time instead of loudly")

  def checkVacuumHorizon(v: Int, what: String): Unit = {
    val h = vacuumHorizon()
    if (v < h) sys.error(
      s"$what version $v is below the vacuum horizon v$h — its data files " +
        s"were vacuumed; earliest readable version is v$h " +
        s"(vacuum retention decides the horizon)")
  }

  // ---- snapshot resolution ---------------------------------------------

  /** Last resolved (version, snapshot) — commits and ascending history
    * walks extend it by one delta instead of re-reading from the
    * checkpoint. Committed records are immutable, so a cached snapshot
    * can never go stale, even with concurrent writers on other handles. */
  @volatile private var lastSnap: Option[(Int, Snap)] = None

  private def applyDeltas(base: Snap, from: Int, to: Int): Snap = {
    var files = base.files
    var meta = base.meta
    (from to to).foreach { i =>
      val d = record(i)
      if (d.full) { files = d.add; meta = d.addMeta }
      else {
        val rm = d.remove.toSet
        files = files.filterNot(rm) ++ d.add
        meta = (if (rm.isEmpty) meta else meta -- rm) ++ d.addMeta
      }
    }
    Snap(files, meta)
  }

  /** Complete snapshot (file list + file meta) of version `v`: nearest
    * base (cache or checkpoint) + tail deltas — bounded by
    * `checkpointInterval` records from a cold handle. The cache-first
    * fast path (sequential commits, history walks) applies deltas
    * straight off the cached snapshot and never lists the log directory;
    * the checkpoint listing happens only on cold or long-jump
    * resolution, where it's amortized over ≥ an interval's worth of
    * avoided record reads. */
  def resolveSnap(v: Int): Snap = {
    lastSnap match {
      case Some((cv, cs)) if cv == v => return cs
      case Some((cv, cs)) if cv < v && v - cv <= checkpointInterval =>
        val snap = applyDeltas(cs, cv + 1, v)
        lastSnap = Some((v, snap))
        return snap
      case _ => ()
    }
    val ckpt = checkpointAtOrBefore(v)
    val cached = lastSnap.filter { case (cv, _) => cv <= v }
    val snap = (cached, ckpt) match {
      case (Some((cv, cs)), Some(ck)) if cv >= ck =>
        if (cv == v) cs else applyDeltas(cs, cv + 1, v)
      case (_, Some(ck)) =>
        val base = readCheckpoint(ck)
        if (ck == v) base else applyDeltas(base, ck + 1, v)
      case (Some((cv, cs)), None) =>
        if (cv == v) cs else applyDeltas(cs, cv + 1, v)
      case (None, None) =>
        applyDeltas(Snap(Seq.empty, Map.empty), 0, v)
    }
    lastSnap = Some((v, snap))
    snap
  }

  // ---- publishing a commit record --------------------------------------

  /** Write commit `c` (a FULL file list — the record stores its delta vs
    * version c.version - 1), publishing it exclusively; a version that
    * already exists fails with `concurrent commit conflict`. Every
    * `checkpointInterval` versions the winner also writes a checkpoint
    * and advances the pointer. */
  def writeCommit(c: Commit, metaHint: Map[String, FileMeta] = Map.empty): Unit = {
    if (!fs.exists(logDir)) fs.mkdirs(logDir)
    val dst = versionFile(c.version)
    if (fs.exists(dst))
      sys.error(s"concurrent commit conflict: version ${c.version} already exists")
    val prevSnap = if (c.version == 0) Snap(Seq.empty, Map.empty)
                   else resolveSnap(c.version - 1)
    val prev = prevSnap.files
    val prevSet = prev.toSet
    val curSet = c.files.toSet
    val add = c.files.filterNot(prevSet)
    val remove = prev.filterNot(curSet)
    // Per-file meta for the add action: files this handle staged are in
    // the index; re-reference commits (RESTORE) pass the historical
    // snapshot's meta as `metaHint`; anything else (another handle's
    // orphan adopted by hand) pays one status probe — O(add), never
    // O(table). Unknown rows (-1) stay unknown; unknown size only if
    // even the probe failed.
    val addMeta: Map[String, FileMeta] = add.map { n =>
      n -> metaHint.getOrElse(n, fileMetaIndex.getOrElse(n, {
        val sz = try fs.getFileStatus(new Path(tablePath, n)).getLen
                 catch { case _: Throwable => -1L }
        FileMeta(sz, -1L)
      }))
    }.toMap
    // txnApp/txnVer (Delta's setTransaction) ride the record itself, so
    // "which batch landed" can never diverge from "what data landed"
    val body = LogCodec.encodeCommit(LogCodec.CommitRecord(c.version, c.action,
      add, remove, c.schemaDdl, c.rows, c.ts, txnApp = c.txnApp,
      txnVer = c.txnVer, dvTargets = c.dvTargets, constraints = c.constraints,
      colMap = c.colMap, droppedPhys = c.droppedPhys, addMeta = addMeta,
      pcols = c.pcols, props = c.props))
    val tmp = tmpPath(dst.getName)
    writeBody(tmp, body)
    if (fs.exists(dst) || !publishExclusive(tmp, dst)) {
      fs.delete(tmp, false)
      sys.error(s"concurrent commit conflict: version ${c.version} already exists")
    }
    // the writer's own snapshot cache must look exactly like a re-read
    // of the record it just published: staging meta carries no mtime,
    // the commit's ts is the files' add time (record() stamps the same)
    val snap = Snap(c.files, (prevSnap.meta -- remove) ++
      addMeta.filter(_._2.size >= 0).map { case (n, m) =>
        n -> (if (m.mtime >= 0) m else m.copy(mtime = c.ts)) })
    lastSnap = Some((c.version, snap))
    if (c.version > 0 && c.version % checkpointInterval == 0)
      writeCheckpoint(c.version, snap, c.rows, c.ts, c.schemaDdl)
  }

  /** Publish `tmp` at `dst` atomically, FAILING (false) if `dst` exists
    * — the primitive the whole optimistic-concurrency protocol rests on,
    * dispatched on the store's capability (Delta's LogStore shape):
    *  - a configured [[VersionedTable.CommitPublisher]]
    *    (`spark.graft.lake.commitPublisher`) always wins — the plug point
    *    for object stores that need an external arbiter (a DynamoDB
    *    conditional put, a database row, a lease service);
    *  - LOCAL filesystems (file:, or any RawLocalFileSystem-backed
    *    scheme) use the hard-link / O_EXCL-claim protocol of
    *    [[publishExclusiveLocal]]: Hadoop rename is NOT the primitive
    *    there, since `RawLocalFileSystem.rename` bottoms out in
    *    `File.renameTo`, which silently REPLACES an existing destination;
    *  - HDFS-like stores (hdfs:, viewfs:) use exists + rename — their
    *    rename contract REFUSES an existing destination;
    *  - anything else (plain S3A and friends: no atomic
    *    rename-if-absent) FAILS LOUDLY at the first commit rather than
    *    silently running a protocol whose multi-writer safety doesn't
    *    hold, unless `spark.graft.lake.unsafeSingleWriterPublish` opts a
    *    SINGLE-writer deployment back in (with a one-time warning). */
  private def publishExclusive(tmp: Path, dst: Path): Boolean =
    commitPublisher match {
      case Some(p) => p.publishIfAbsent(fs, tmp, dst)
      case None =>
        val raw = fs match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
          case f => f
        }
        if (fs.getUri.getScheme == "file" ||
            raw.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem])
          publishExclusiveLocal(tmp, dst)
        else fs.getUri.getScheme match {
          case "hdfs" | "viewfs" => !fs.exists(dst) && fs.rename(tmp, dst)
          case other =>
            if (settings.unsafeSingleWriter) {
              if (!unsafePublishWarned.getAndSet(true))
                System.err.println(s"[lake] UNSAFE publish on '$other': " +
                  "exists+rename is not atomic here — multi-writer commits " +
                  "can clobber each other. Single-writer deployments only.")
              !fs.exists(dst) && fs.rename(tmp, dst)
            } else sys.error(
              s"graft-lake: scheme '$other' has no atomic rename-if-absent, " +
                "so the optimistic-concurrency commit protocol cannot run " +
                "safely. Configure spark.graft.lake.commitPublisher with a " +
                "graft.lake.VersionedTable.CommitPublisher backed by an " +
                "external arbiter, or set " +
                "spark.graft.lake.unsafeSingleWriterPublish=true for a " +
                "strictly single-writer deployment.")
        }
    }

  private val unsafePublishWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The configured publish arbiter, instantiated once per handle. */
  private lazy val commitPublisher: Option[VersionedTable.CommitPublisher] =
    settings.publisher.map { cn =>
      Class.forName(cn).getDeclaredConstructor().newInstance()
        .asInstanceOf[VersionedTable.CommitPublisher]
    }

  /** This writer's host identity for claim-file ownership (pid liveness
    * is only meaningful on the host that observed it). */
  private lazy val localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Throwable => "unknown-host" }

  /** Local publish: `Files.createLink`, whose EEXIST failure is atomic at
    * the syscall level (the classic O_EXCL-by-hardlink trick). */
  private def publishExclusiveLocal(tmp: Path, dst: Path): Boolean = {
    val t = java.nio.file.Paths.get(tmp.toUri.getPath)
    val d = java.nio.file.Paths.get(dst.toUri.getPath)
    try {
      Files.createLink(d, t)
      fs.delete(tmp, false) // fs-level: also removes the checksum sidecar
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        // FS without hard-link support: an exists+rename probe here would
        // reinstate the TOCTOU clobber this path exists to prevent.
        // Arbitrate through an O_EXCL claim file instead
        // (`Files.createFile` is atomic at the syscall level): the claim
        // serializes the exists-check + rename, so exclusivity holds even
        // though rename itself would replace. The claim is RELEASED on
        // every exit (win, lose, or rename failure) — and a claim left by
        // a crashed writer self-heals: a later writer finding a stale
        // claim (old, with no published dst) removes it and reports
        // conflict, so the caller's retry proceeds instead of the table
        // wedging forever. Every writer on the same FS takes this same
        // branch, so mixed-mode races with the hardlink path can't happen.
        System.err.println(s"[lake] no hard-link support at ${dst.getParent}" +
          s" — publishing ${dst.getName} via O_EXCL claim file")
        val claim = java.nio.file.Paths.get(
          new Path(dst.getParent, s".claim-${dst.getName}").toUri.getPath)
        try {
          // O_EXCL create + owner identity (pid@host) in one call: a later
          // SAME-HOST writer can verify the claimant is DEAD before
          // stealing, instead of guessing from age (a live writer stalled
          // in a GC pause must never lose its claim — stealing from it
          // would reinstate the exists+rename TOCTOU this branch prevents)
          Files.write(claim,
            (ProcessHandle.current().pid().toString + "@" + localHost)
              .getBytes(StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          try { !fs.exists(dst) && fs.rename(tmp, dst) }
          finally { Files.deleteIfExists(claim); () }
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            val age = try System.currentTimeMillis() -
              Files.getLastModifiedTime(claim).toMillis
            catch { case _: Throwable => 0L }
            val owner = try {
              val s = new String(Files.readAllBytes(claim), StandardCharsets.UTF_8).trim
              "^(\\d+)@(.+)$".r.findFirstMatchIn(s)
                .map(m => (m.group(1).toLong, m.group(2)))
            } catch { case _: Throwable => None }
            // Steal rules, least-risk first:
            //  - same host + owner pid provably dead → steal after a short
            //    grace (the owner can never publish);
            //  - everything else — remote host (its pids mean nothing
            //    here), unreadable claim, or a pid that LOOKS alive (could
            //    be the OS recycling a dead writer's pid) — only after a
            //    stall far beyond any plausible pause, and never when the
            //    record was in fact published. The long window trades a
            //    bounded wedge (30 min) for never clobbering a live
            //    writer; without it a recycled pid would wedge the table
            //    forever.
            val longStallMs = 30L * 60 * 1000
            val stealable = owner match {
              case Some((pid, host)) if host == localHost =>
                if (!ProcessHandle.of(pid).isPresent) age > 5000L
                else age > longStallMs
              case _ => age > longStallMs
            }
            if (stealable && !fs.exists(dst)) {
              System.err.println(s"[lake] removing stale claim " +
                s"${claim.getFileName} (${age}ms old, owner " +
                s"${owner.fold("unknown") { case (p, h) => s"$p@$h" }}, " +
                s"no published record)")
              Files.deleteIfExists(claim)
            }
            false // caller raises conflict; its retry finds the claim free
        }
    }
  }

  // ---- stats and bloom sidecars ----------------------------------------

  /** One kind of write-once sidecar, `v{N}-{nonce}-{kind}.jsonl`: one
    * (file, column, value) line per entry for the files a commit stages.
    * Nonce-suffixed so two writers racing for one version never collide;
    * entries are keyed by (globally unique) file name, so a loser's
    * sidecar describes only orphan files and is never consulted.
    * Pre-nonce names (`v{N}-{kind}.jsonl`) still count after an upgrade.
    *
    * Reads assemble file → column → value across every sidecar, cached
    * per head version: a parse is cached per sidecar name forever
    * (write-once), and a repeat read of an unchanged table costs ZERO
    * log listings (the head probe itself is the O(1) pointer path). A
    * new head costs one listing, shared by every kind. A racing writer's
    * sidecar lands before its commit record, so observing the new head
    * implies the listing sees it. */
  final class Sidecars[T](kind: String, decode: String => Option[(String, String, T)]) {
    private val Name = s"v\\d{8}(-[0-9a-f-]+)?-$kind\\.jsonl".r
    private val parsed = TrieMap.empty[String, Seq[(String, String, T)]]
    @volatile private var assembled: Option[(Int, Map[String, Map[String, T]])] = None

    /** Write the sidecar of staged version `v` — BEFORE its commit
      * record, so a reader observing the record always finds it. */
    def write(v: Int, nonce: String, lines: Seq[String]): Unit = {
      if (!fs.exists(logDir)) fs.mkdirs(logDir)
      writeBody(new Path(logDir, f"v$v%08d-$nonce-$kind.jsonl"), lines.mkString("\n") + "\n")
    }

    /** This kind's sidecar files at the current head. */
    def paths(): Seq[Path] = sidecarListing()._2.filter(p => Name.matches(p.getName))

    /** file → column → value across every sidecar at the current head. */
    def all(): Map[String, Map[String, T]] = {
      val (head, listed) = sidecarListing()
      assembled match {
        case Some((h, m)) if h == head => return m
        case _ => ()
      }
      val m = listed.filter(p => Name.matches(p.getName)).flatMap { p =>
        parsed.getOrElseUpdate(p.getName, {
          val src = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
          try src.getLines().toList.flatMap(decode) finally src.close()
        })
      }.groupBy(_._1).map { case (f, seq) => f -> seq.map(t => t._2 -> t._3).toMap }
      assembled = Some((head, m))
      m
    }
  }

  val stats = new Sidecars[FileStats.ColStats]("stats", LogCodec.decodeStatsLine)
  val blooms = new Sidecars[Array[Byte]]("bloom", LogCodec.decodeBloomLine)

  /** (head version, sidecar files in name order), listed once per head. */
  @volatile private var sidecarsAt: Option[(Int, Seq[Path])] = None

  private def sidecarListing(): (Int, Seq[Path]) = {
    val head = latestVersion().getOrElse(-1)
    sidecarsAt match {
      case Some(l @ (h, _)) if h == head => l
      case _ =>
        val l = (head, listLog().filter(_.getName.endsWith(".jsonl")).sortBy(_.getName))
        sidecarsAt = Some(l)
        l
    }
  }
}

private[lake] object LakeLog {
  /** Logical snapshot view of a version: `files` is the COMPLETE file
    * list (resolved from checkpoint + tail deltas on read). Writers hand
    * in full lists too — [[LakeLog.writeCommit]] derives the incremental
    * record. */
  final case class Commit(version: Int, action: String, files: Seq[String],
                          schemaDdl: String, rows: Long, ts: Long,
                          txnApp: String = "", txnVer: Long = -1L,
                          dvTargets: Seq[String] = Nil,
                          constraints: Seq[(String, String)] = Nil,
                          colMap: Seq[(String, String)] = Nil,
                          droppedPhys: Seq[String] = Nil,
                          pcols: Seq[String] = Nil,
                          props: Seq[(String, String)] = Nil)

  /** A resolved snapshot: the complete file list plus the per-file
    * size/row metadata the log recorded for it (entries absent for files
    * added by pre-meta commits — their consumers fall back to one
    * directory listing for just those names). */
  final case class Snap(files: Seq[String], meta: Map[String, FileMeta])

  /** How commit records publish: the configured
    * [[VersionedTable.CommitPublisher]] class, and whether a store
    * without atomic rename-if-absent may publish by exists + rename
    * (single-writer deployments only). */
  final case class PublishSettings(publisher: Option[String], unsafeSingleWriter: Boolean)

  private val RecordName = "v(\\d{8})\\.json".r
  private val CheckpointName = "checkpoint-v(\\d{8})\\.json".r

  /** A temp-file name for `name` that no concurrent writer can pick. */
  def tempName(name: String): String = s".tmp-$name-${java.util.UUID.randomUUID()}"

  /** Replace the local file `p` with `body` atomically (temp + atomic
    * move): a reader sees the old content or the new, never a torn or
    * missing file. The temp name is unique, so concurrent writers never
    * share one. */
  def replaceLocal(p: java.nio.file.Path, body: String): Unit = {
    val tmp = p.resolveSibling(tempName(p.getFileName.toString))
    try {
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }
}
