package graft.core

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** Sibling-ledger I/O — the tiny single-line control files the warehouse
  * keeps next to its tables (watermark/promote longs, bucket-spec and
  * threshold stamps, swap-inflight tokens). Their defining hazard: they
  * are READ BY LEASE-FREE READERS (fsck, status, queries over bucketed
  * stores) while a leased writer may be mid-rewrite, and a plain
  * `fs.create(p, overwrite = true)` rewrites a file as
  * delete-then-recreate-then-write — a reader in that window sees the
  * file ABSENT or EMPTY and silently flips whatever branch keyed on it
  * (the same bug class the swap-token race caught, SwapProtocol doc).
  *
  * So writes here are write-to-temp + ATOMIC OVERWRITE RENAME on the RAW
  * filesystem, by the same scheme ladder as the token stamp:
  *   - posix local: raw rename(2) replaces the destination atomically
  *   - HDFS-style (rename refuses an existing destination):
  *     FileContext.rename OVERWRITE, atomic there
  *   - no AbstractFileSystem binding (some object stores): direct
  *     create — a single PUT, atomic at read level on those stores
  * ALL THREE rungs are exercised by tests (AtomicFilesSpec + the
  * swap-token races): rung 1 on posix local — both bare
  * RawLocalFileSystem and the checksummed LocalFileSystem wrapper
  * (written raw through it); rung 2 via a registered scratch scheme
  * with HDFS's rename semantics (FileSystem rename refuses an existing
  * destination; the scheme's AbstractFileSystem binding provides the
  * atomic OVERWRITE rename, as HDFS's does server-side) — including
  * the old-or-new visibility hammer under a concurrent reader; rung 3
  * via a scheme with no FileContext binding and a refusing rename. On
  * real HDFS the rung-2 atomicity is HDFS's own rename contract; the
  * harness binding mimics it with a posix ATOMIC_MOVE.
  * Raw matters as much as the rename: ChecksumFileSystem moves a file's
  * `.crc` sidecar in a SECOND rename, so even an atomic data rename
  * leaves a window where a checksummed reader sees new data against the
  * old sum and throws. Writing raw means no sidecar ever exists; reads
  * go raw too.
  *
  * Reads retry twice on an I/O error (a torn read on a filesystem whose
  * overwrite visibility is weaker than posix rename — transient by
  * construction) and then rethrow; each caller maps persistent failure
  * to ITS OWN fail-safe direction (the token reads maximally stale, a
  * watermark ledger reads -1 = re-do the guarded work, a geometry stamp
  * refuses the append).
  */
private[graft] object AtomicFiles {

  /** The checksum-free handle for control files (object doc). */
  def raw(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** Publish `content` at `p` atomically-visible (object doc): a reader
    * polling `p` across this call sees the old line or the new one,
    * never absence, emptiness, or a checksum mismatch.
    */
  def writeAtomic(fs: FileSystem, p: Path, content: String): Unit = {
    // self-enforcing residue contract: every target must belong to a
    // family isTempResidue recognizes, or a crash here would leave
    // residue the census can never see (immortal next to a live table).
    // Refusing the WRITE keeps writer and recognizer in lockstep — a new
    // ledger family is added in isControlTargetName FIRST, and this
    // require makes forgetting that a loud test failure, not silent
    // immortal residue.
    require(isControlTargetName(p.getName),
      s"writeAtomic: ${p.getName} is not a recognized control-file " +
        "family (._*, _snap_*, _export_*, batch-<id>) — add the family " +
        "to AtomicFiles.isControlTargetName so its crash residue stays " +
        "visible to the fsck census")
    val wfs = raw(fs)
    val bytes = content.getBytes("UTF-8")
    val tmp = new Path(p.getParent,
      p.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = wfs.create(tmp, true)
    try out.write(bytes) finally out.close()
    try {
      if (!wfs.rename(tmp, p)) {
        // dst-exists refusal (HDFS semantics): the atomic overwrite
        // rename lives on FileContext there
        FileContext.getFileContext(wfs.getUri, wfs.getConf)
          .rename(tmp, p, Options.Rename.OVERWRITE)
      }
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // no FileContext binding for the scheme: single-PUT overwrite
        try wfs.delete(tmp, false) catch { case _: Exception => () }
        val direct = wfs.create(p, true)
        try direct.write(bytes) finally direct.close()
      case e: Exception =>
        // rename refused (degraded store): drop the temp — crash residue
        // is a `.tmp-*` file, inert (never read as the ledger) — and let
        // the caller's failure protocol run
        try wfs.delete(tmp, false) catch { case _: Exception => () }
        throw e
    }
  }

  /** True when `name` is [[writeAtomic]]'s crash residue — the
    * `<name>.tmp-xxxxxxxx` a writer dying between the temp create and
    * its rename leaves behind. Inert by construction (never read as a
    * ledger) but otherwise immortal next to LIVE tables: dropStore
    * sweeps its own table's, fsck censuses the rest and repair clears
    * them. The naming convention lives HERE with the writer, so the
    * recognizers can never drift from it.
    *
    * The match is the EXACT shape writeAtomic stamps — a target name
    * from a family writeAtomic actually writes (see
    * [[isControlTargetName]]), `.tmp-`, then precisely the 8
    * lowercase-hex chars of the UUID nonce at end-of-name — not merely
    * "contains `.tmp-`": writeAtomic's targets are not all sibling
    * ledgers (`batch-<id>` snapshot stamps, `_snap_commit`/`_export_*`
    * commit markers carry no `._`), so a recognizer keyed on the
    * sibling convention would leave THEIR residue invisible to the
    * census and immortal — while one keyed on the generic
    * `<any>.tmp-hex8` shape would let repair claim an operator-placed
    * or externally-written file that coincidentally matches (e.g. a
    * user's `data.tmp-12345678`): the age bound protects live WRITERS,
    * not innocent bystander files. The family gate in writeAtomic
    * (refuse unrecognized targets at the write) is what keeps this
    * recognizer provably complete.
    */
  def isTempResidue(name: String): Boolean = {
    val i = name.lastIndexOf(".tmp-")
    val nonce = if (i < 0) "" else name.substring(i + ".tmp-".length)
    i > 0 && nonce.length == 8 &&
      nonce.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')) &&
      isControlTargetName(name.substring(0, i))
  }

  /** The exact target-name families [[writeAtomic]] stamps (and
    * [[isTempResidue]] therefore claims residue for): sibling ledgers
    * carrying the `._` control marker in-name (`<table>._params`,
    * `<table>._bucketspec`, `<table>._promoted_upto`,
    * `<table>._ingested_upto`, `<table>._swap_inflight`,
    * `<table>._threshold`, `<table>._audit_seq`, `<table>._rewritegen`,
    * the bare `._clockprobe`, …), snapshot/export commit markers
    * (`_snap_*`, `_export_*`), and `batch-<digits>` timestamp stamps.
    * An operator-placed file with none of these markers (e.g. a user's
    * `data.tmp-12345678`) belongs to NO family — repair must never
    * claim it. Enforced at the write by writeAtomic's require, so the
    * two ends of the contract cannot drift apart.
    */
  def isControlTargetName(name: String): Boolean = {
    val sib = name.indexOf("._")
    (sib >= 0 && name.length > sib + 2) ||
      name.startsWith("_snap_") || name.startsWith("_export_") ||
      (name.startsWith("batch-") && name.length > "batch-".length &&
        name.drop("batch-".length).forall(c => c >= '0' && c <= '9'))
  }

  /** The single-long ledger read both ledger families share (promote's
    * format): -1 when absent, empty, unparsable, or persistently
    * unreadable — the fail-safe direction (re-do the guarded work,
    * never skip it, never crash a lease-free reader like fsck/status).
    */
  def readLongOrNeg(fs: FileSystem, p: Path): Long =
    try readLine(fs, p) match {
      case Some(line) if line.trim.nonEmpty =>
        try line.trim.toLong catch { case _: NumberFormatException => -1L }
      case _ => -1L
    } catch { case _: Exception => -1L }

  /** First line at `p` through the raw filesystem; None when absent.
    * Bounded retries on I/O errors (object doc), then rethrow — the
    * caller owns the fail-safe mapping. A file with no line reads "".
    */
  def readLine(fs: FileSystem, p: Path): Option[String] = {
    val rfs = raw(fs)
    def once(): Option[String] =
      if (!rfs.exists(p)) None
      else {
        val in = rfs.open(p)
        val line =
          try new java.io.BufferedReader(new java.io.InputStreamReader(in))
            .readLine()
          finally in.close()
        Some(if (line == null) "" else line)
      }
    var attempt = 0
    while (true) {
      try return once()
      catch {
        case e: Exception =>
          if (attempt >= 2) throw e
          attempt += 1
          Thread.sleep(20L)
      }
    }
    sys.error("unreachable")
  }
}
