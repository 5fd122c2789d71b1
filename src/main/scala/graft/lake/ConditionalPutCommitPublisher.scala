package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}

/** REFERENCE object-store commit publisher (r19) — the
  * [[VersionedTable.CommitPublisher]] implementation for stores with NO
  * atomic rename-if-absent (plain S3 semantics), built on the design
  * Delta ships as S3DynamoDBLogStore: an external CONDITIONAL-PUT
  * arbiter decides the version race, and a completion protocol makes a
  * crashed winner's commit durable instead of lost.
  *
  * Protocol per (tmp → dst) publish:
  *  1. if `dst` exists → lose immediately (someone completed);
  *  2. CONDITIONAL PUT of an arbiter entry keyed by `dst`, recording
  *     the winner's `tmp` path + owner + wall time. Exactly one
  *     concurrent writer's put succeeds — this is the commit's
  *     linearization point. A put that succeeds only because an
  *     earlier winner already published and released the entry sees
  *     `dst` on a second probe and loses;
  *  3. the put winner copies its tmp to `dst` (plain write: the
  *     arbiter entry already made it the only legitimate writer of
  *     `dst`), removes the entry, wins;
  *  4. a put loser COMPLETES a stalled winner before conceding: entry
  *     present + `dst` absent + the recorded tmp readable → copy the
  *     WINNER's tmp to `dst` (its content, not ours), remove the
  *     entry, then lose — a writer that crashed between arbitration
  *     and publish therefore still commits (the S3DynamoDBLogStore
  *     recovery rule), and the ledger never forks or loses a version;
  *  5. entry present but the recorded tmp is GONE and `dst` never
  *     appeared: unrecoverable external interference — steal the entry
  *     only after a long stall (30 min, the claim-file rule: a bounded
  *     wedge beats clobbering a live writer), else concede.
  *
  * The arbiter here is a sibling `.arbiter-<name>` object created with
  * O_EXCL (`CREATE_NEW`) through java.nio on the store's backing path —
  * the in-tree stand-in for the real external CAS (a DynamoDB
  * put-if-absent, an S3 `If-None-Match:*` conditional PUT, a GCS
  * `x-goog-if-generation-match:0`). It is genuinely atomic ACROSS
  * PROCESSES on the host, so the multi-process stress harness
  * exercises the whole protocol; swapping in a cloud arbiter changes
  * `putEntryIfAbsent`/`readEntry`/`removeEntry` only. Thread-safe;
  * no state beyond the store. */
class ConditionalPutCommitPublisher extends VersionedTable.CommitPublisher {

  private def entryPath(dst: Path) =
    new Path(dst.getParent, s".arbiter-${dst.getName}")

  private def localOf(p: Path) = java.nio.file.Paths.get(p.toUri.getPath)

  /** The conditional put — the ONE primitive a cloud arbiter replaces. */
  protected def putEntryIfAbsent(fs: FileSystem, entry: Path,
                                 body: String): Boolean =
    try {
      java.nio.file.Files.write(localOf(entry),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }

  protected def readEntry(fs: FileSystem, entry: Path): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(localOf(entry)),
      java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => None }

  protected def removeEntry(fs: FileSystem, entry: Path): Unit = {
    java.nio.file.Files.deleteIfExists(localOf(entry)); ()
  }

  /** Publish `from`'s bytes at `to` with ATOMIC VISIBILITY — readers
    * must never observe a torn record (the lake parses any record it
    * can see). A real object store's PUT is atomic by itself; on the
    * mock (a local FS) we stage a side file and rename over, which is
    * all-or-nothing there. Exclusivity is NOT needed here — the
    * arbiter entry already serialized writers, and every completer
    * writes identical bytes. */
  private def copy(fs: FileSystem, from: Path, to: Path): Boolean =
    try {
      val in = fs.open(from)
      val buf = try {
        val out = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](64 * 1024)
        var n = in.read(b)
        while (n >= 0) { out.write(b, 0, n); n = in.read(b) }
        out.toByteArray
      } finally in.close()
      val side = new Path(to.getParent,
        s".cput-${to.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(side, true)
      try out.write(buf) finally out.close()
      if (fs.rename(side, to)) true
      else { fs.delete(side, false); false }
    } catch { case _: Throwable => false }

  override def publishIfAbsent(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
    if (fs.exists(dst)) return false
    val entry = entryPath(dst)
    val owner = ProcessHandle.current().pid().toString + "@" +
      java.net.InetAddress.getLocalHost.getHostName
    val body = s"""{"tmp":"${tmp.toString}","owner":"$owner",""" +
      s""""ts":${System.currentTimeMillis()}}"""
    if (putEntryIfAbsent(fs, entry, body)) {
      // An earlier winner may have published `dst` and released its
      // entry between our exists probe and our put: entries are only
      // released once `dst` exists, so re-probing here decides it.
      if (fs.exists(dst)) { removeEntry(fs, entry); return false }
      // we are the arbitrated winner: publish OUR content
      if (!copy(fs, tmp, dst)) {
        // leave the entry: any later writer completes from our tmp
        // (which the caller must NOT delete on a true return; on a
        // thrown copy failure the entry+tmp pair is the recovery unit)
        sys.error(s"conditional-put publish: arbitration won but the " +
          s"copy to $dst failed — entry left for completion")
      }
      fs.delete(tmp, false)
      removeEntry(fs, entry)
      true
    } else {
      // lost the put — complete a stalled winner before conceding
      readEntry(fs, entry) match {
        case Some(b) if !fs.exists(dst) =>
          val winnerTmp = """"tmp"\s*:\s*"([^"]*)"""".r
            .findFirstMatchIn(b).map(m => new Path(m.group(1)))
          val ts = """"ts"\s*:\s*(\d+)""".r
            .findFirstMatchIn(b).map(_.group(1).toLong).getOrElse(0L)
          winnerTmp match {
            case Some(wt) if fs.exists(wt) =>
              if (copy(fs, wt, dst)) removeEntry(fs, entry)
            case _ =>
              // tmp gone, dst never appeared: bounded-wedge steal rule
              if (System.currentTimeMillis() - ts > 30L * 60 * 1000)
                removeEntry(fs, entry)
          }
        case _ => () // dst appeared or entry vanished — race resolved
      }
      false
    }
  }
}

/** Inner local FS answering to the `mos:` scheme (accepts its paths,
  * stores on local disk). */
class MockS3InnerFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mos:///")
  override def checkPath(path: Path): Unit = () // accept mos: paths
}

/** A local filesystem masquerading as an OBJECT STORE for the
  * multi-process stress harness: registered under `mos:` with NO
  * rename-if-absent claim — a FilterFileSystem wrapper, deliberately
  * NOT RawLocalFileSystem in the publish dispatch's eyes, so
  * [[VersionedTable]] refuses to commit on it without a configured
  * [[VersionedTable.CommitPublisher]] — exactly the plain-S3 posture.
  * Rename on it REPLACES the destination (S3 copy semantics), which is
  * precisely why exists+rename would be unsafe here. Main-source
  * sibling of the suite-local mockobj FS in CommitPublisherSpec. */
class MockS3Fs extends org.apache.hadoop.fs.FilterFileSystem(new MockS3InnerFs) {
  override def getUri: java.net.URI = java.net.URI.create("mos:///")
}
