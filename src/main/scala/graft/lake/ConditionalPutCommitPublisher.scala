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
  *     `dst` on a second probe and loses — unless `dst` holds its own
  *     bytes: a put loser may complete the winner's commit from the
  *     winner's tmp (step 4) before the winner re-probes, and that
  *     commit is the winner's;
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
  *     wedge beats clobbering a live writer), else concede. The stall
  *     is measured from the entry's recorded put time, or from the
  *     entry object's modification time when it records none (an
  *     entry that does not decode must never read as infinitely old).
  *
  * The arbiter here is a sibling `.arbiter-<name>` object published
  * WITH its body in one atomic step — a hard link from a fully written
  * side file, which fails if the entry exists — through java.nio on
  * the store's backing path, so no reader ever sees a created but
  * still empty entry. It is the in-tree stand-in for the real
  * external CAS (a DynamoDB put-if-absent, an S3 `If-None-Match:*`
  * conditional PUT, a GCS `x-goog-if-generation-match:0`). It is genuinely atomic ACROSS
  * PROCESSES on the host, so the multi-process stress harness
  * exercises the whole protocol; swapping in a cloud arbiter changes
  * `putEntryIfAbsent`/`readEntry`/`removeEntry` only. Thread-safe;
  * no state beyond the store. */
class ConditionalPutCommitPublisher extends VersionedTable.CommitPublisher {

  private def entryPath(dst: Path) =
    new Path(dst.getParent, s".arbiter-${dst.getName}")

  private def localOf(p: Path) = java.nio.file.Paths.get(p.toUri.getPath)

  /** The conditional put — the ONE primitive a cloud arbiter replaces.
    * Entry and body appear together: the body goes to a side file
    * first, and `createLink` publishes it under the entry's name,
    * failing atomically when the entry already exists. */
  protected def putEntryIfAbsent(fs: FileSystem, entry: Path,
                                 body: String): Boolean = {
    val e = localOf(entry)
    val side = e.resolveSibling(
      s".cput-${e.getFileName}-${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.write(side,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try { java.nio.file.Files.createLink(e, side); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally java.nio.file.Files.deleteIfExists(side)
  }

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
      val buf = bytes(fs, from)
      val side = new Path(to.getParent,
        s".cput-${to.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(side, true)
      try out.write(buf) finally out.close()
      if (fs.rename(side, to)) true
      else { fs.delete(side, false); false }
    } catch { case _: Throwable => false }

  private def bytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  override def publishIfAbsent(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
    if (fs.exists(dst)) return false
    val entry = entryPath(dst)
    val owner = ProcessHandle.current().pid().toString + "@" +
      java.net.InetAddress.getLocalHost.getHostName
    val body = LogCodec.encodeArbiterEntry(tmp.toString, owner, System.currentTimeMillis())
    if (putEntryIfAbsent(fs, entry, body)) {
      // An earlier winner may have published `dst` and released its
      // entry between our exists probe and our put: entries are only
      // released once `dst` exists, so re-probing here decides it —
      // by content, since a put loser may already have completed OUR
      // commit from our tmp (then `dst` holds our bytes and we won).
      if (fs.exists(dst)) {
        removeEntry(fs, entry)
        val ours = java.util.Arrays.equals(bytes(fs, dst), bytes(fs, tmp))
        if (ours) fs.delete(tmp, false)
        return ours
      }
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
          val (winnerTmp, ts) = LogCodec.decodeArbiterEntry(b)
          winnerTmp.map(new Path(_)) match {
            case Some(wt) if fs.exists(wt) =>
              if (copy(fs, wt, dst)) removeEntry(fs, entry)
            case _ =>
              // tmp gone, dst never appeared: bounded-wedge steal rule
              val putAt = if (ts > 0) Some(ts)
                else scala.util.Try(fs.getFileStatus(entry).getModificationTime).toOption
              if (putAt.exists(System.currentTimeMillis() - _ > 30L * 60 * 1000))
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
