package graft.core

import org.apache.spark.sql.SparkSession

/** The rewrite-SWAP/PARK protocol — the reader-visible contract every
  * atomic table rewrite in the warehouse shares (`Sinks.swapInto` and its
  * bucketed twin delegate here). Split out of Sinks: the protocol is a
  * self-contained seam (token lifecycle, park detection, lease-aware
  * healing) that readers, writers, and fsck all consult, and it must not
  * drift per rewrite flavor.
  *
  * A rewrite swap is: write the new table to `<t>._compact_tmp`, rename
  * the live dir to `<t>._compact_old` (stage-out), rename tmp into place
  * (swap-in), drop the old. A reader racing a HEALTHY swap sees the
  * complete old or complete new table — except for the instant between
  * the two renames, when the live path is ABSENT with the data parked
  * complete at `._compact_old`. A process dying in that instant leaves
  * the same signature permanently (crash-park). Distinguishing the two is
  * the whole protocol:
  *
  *   - every swap stamps `<t>._swap_inflight` (epoch millis) BEFORE the
  *     stage-out rename, RE-STAMPS it every TTL/3 while between the
  *     renames (a background beat — so a healthy swap of any duration
  *     stays credible, not just one faster than the TTL), and clears it
  *     after the swap-in. A crash kills the beat with the process and the
  *     token goes stale one TTL later.
  *   - a lease-free reader seeing the parked signature resolves it by
  *     PROTOCOL: a fresh token means a swap is plausibly in flight —
  *     re-probe once, then fail with "retry, don't repair"; no token or a
  *     stale one means no writer can be mid-swap — fail with the
  *     crash-park error pointing at repair. No timing probe sits on the
  *     read path.
  *   - a LEASED reader (the holding call tree) heals the park in-line:
  *     the lease guarantees no other writer's swap is mid-flight, so the
  *     rename-back is safe.
  *
  * Token residue next to a HEALTHY live table (a crash just before the
  * stage-out, or just after the swap-in) is inert: readers consult it
  * only under the parked signature, and the next swap re-stamps it.
  */
object SwapProtocol {

  /** Filesystem-agnostic existence check (local, HDFS, s3a, ...) — a bare
    * java.io.File would silently report false for any non-local URI and
    * disable the idempotence guards.
    */
  private[graft] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** True when `path` shows the CRASH-PARKED swap signature right now:
    * live directory absent, complete data at `._compact_old`. NOTE this
    * is also what a reader racing a HEALTHY swap sees for the instant
    * between the two renames — callers that cannot hold the warehouse
    * lease must resolve the ambiguity through the swap-inflight token
    * (`storePresent` does), never from this signature alone.
    */
  def hasParkedSwap(spark: SparkSession, path: String): Boolean = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(live) &&
      fs.exists(new org.apache.hadoop.fs.Path(path + "._compact_old"))
  }

  /** Conf key: how long a stamped `._swap_inflight` token stays credible
    * as "a writer is between its two renames right now". The writer
    * re-stamps every TTL/3 while mid-swap, so the TTL bounds TOKEN
    * staleness after a crash, not swap duration — 60 s default covers a
    * crashed writer promptly while tolerating beat jitter.
    *
    * CLOCK-SKEW assumption: the staleness decision compares the WRITER's
    * `System.currentTimeMillis` stamp against the READER's clock. On a
    * multi-driver deployment, skew between the two hosts eats directly
    * into the margin — a reader ahead of the writer by ~TTL misreads a
    * healthy in-flight swap as crash-parked (fail-loud, pointing at
    * repair), and a reader behind keeps a crashed writer's token credible
    * that much longer. Size the TTL to (intended staleness bound + max
    * expected cross-host skew); NTP-class skew (ms) is noise against the
    * 60 s default.
    */
  val SwapInflightTtlKey = "spark.graft.swap.inflightTtlMs"

  /** Conf key: a MECHANICAL cross-host clock-skew allowance (millis,
    * default 0) added to the token-staleness comparison in
    * [[storePresent]]. The TTL-sizing advice above remains the fallback;
    * this key makes the mitigation a setting instead of an operator
    * convention — a deployment that knows its fleet's skew bound (NTP
    * monitoring) sets it once and the reader-ahead-of-writer misread
    * ("healthy in-flight swap reported crash-parked") is excluded by
    * arithmetic. The allowance only ever widens the in-flight verdict,
    * whose failure direction is "retry shortly" — it can delay a crashed
    * writer's park report by at most the allowance, never mask it.
    */
  val SwapSkewAllowanceKey = "spark.graft.swap.skewAllowanceMs"

  private def swapInflightTtlMs(spark: SparkSession): Long =
    spark.conf.getOption(SwapInflightTtlKey).map(_.trim.toLong)
      .getOrElse(60000L)

  private def swapSkewAllowanceMs(spark: SparkSession): Long =
    spark.conf.getOption(SwapSkewAllowanceKey).map(_.trim.toLong)
      .getOrElse(0L)

  private def swapTokenPath(path: String) =
    new org.apache.hadoop.fs.Path(path + "._swap_inflight")

  // token content: `v2|<epochMillis>|<swapNonce>`. The nonce identifies
  // WHICH swap's beat owns the token, so a beat that wedged and unblocked
  // after a LATER swap stamped fresh refuses to clobber the newer swap's
  // token with its pre-wedge millis (a false crash-park). Anything else
  // — another version prefix, torn bytes — parses maximally stale and
  // unowned: ambiguity resolves toward the loud crash-park report (which
  // only ever points at repair), never toward treating a parked store as
  // absent.
  //
  // The stamp is an [[AtomicFiles.writeAtomic]] publish, never a direct
  // create(overwrite) on the live token: a posix fs rewrites a created
  // file as delete-then-recreate-then-write, so a reader polling
  // storePresent DURING a beat's re-stamp would catch the token absent
  // or torn and misread a healthy mid-swap table as crash-parked
  // (pointing operators at repair) — the cross-process race
  // (SwapRaceSpec) caught exactly that with a ~2% per-beat window, and
  // the in-JVM hammer caught the narrower ChecksumFileSystem `.crc`
  // variant. AtomicFiles carries the full scheme ladder and the
  // raw-read contract; the bug class and its fix now live in ONE place
  // for every sibling control file, not just this token.
  private def stampSwapToken(fs: org.apache.hadoop.fs.FileSystem,
                             path: String, nonce: String): Unit =
    AtomicFiles.writeAtomic(fs, swapTokenPath(path),
      s"v2|${System.currentTimeMillis()}|$nonce")

  private def clearSwapToken(fs: org.apache.hadoop.fs.FileSystem,
                             path: String): Unit =
    try fs.delete(swapTokenPath(path), false)
    catch { case _: java.io.IOException => () }

  /** Parse one `v2|<millis>|<nonce>` token line into (stamp, nonce).
    * Anything else reads as (0, ""): maximally stale and unowned, the
    * fail-loud-at-repair direction (token-content doc above).
    */
  private[graft] def parseSwapToken(raw: String): (Long, String) =
    raw.trim.split("\\|", 3) match {
      case Array("v2", millis, nonce) =>
        try (millis.toLong, nonce)
        catch { case _: NumberFormatException => (0L, "") }
      case _ => (0L, "")
    }

  /** (stamp, nonce), None when absent — an [[AtomicFiles.readLine]] (raw,
    * bounded-retried). A token that persistently cannot be read or parsed
    * reads as stamp 0 with no owner — i.e. maximally STALE: ambiguity
    * resolves toward the loud crash report (which only ever points at
    * repair), never toward treating a parked store as absent. The retry
    * sits on the already-exceptional parked branch, never the healthy
    * read path.
    */
  private def readSwapTokenFull(fs: org.apache.hadoop.fs.FileSystem,
                                path: String): Option[(Long, String)] =
    try AtomicFiles.readLine(fs, swapTokenPath(path)).map(parseSwapToken)
    catch { case _: Exception => Some((0L, "")) }

  private def readSwapToken(spark: SparkSession,
                            path: String): Option[Long] = {
    val p = swapTokenPath(path)
    readSwapTokenFull(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
      .map(_._1)
  }

  // a small shared daemon pool DISPATCHING the beats of every in-flight
  // swap in the JVM: each firing spawns a single-use daemon thread for
  // the token I/O (tryLock-gated — a previous beat still in flight makes
  // the new one skip its period), so a re-stamp wedged on a degraded
  // store orphans at most one thread per wedge event and can never
  // starve a CONCURRENT swap's beats past its TTL (which would
  // false-crash that swap's lease-free readers — the exact spurious
  // report the beat eliminates). Same structure as WarehouseLease's
  // heartbeat pool, for the same reason.
  private lazy val restampPool = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val t = new java.util.concurrent.ScheduledThreadPoolExecutor(2,
      (r: Runnable) => {
        val th = new Thread(r, s"graft-swap-token-beat-${n.incrementAndGet()}")
        th.setDaemon(true)
        th
      })
    t.setRemoveOnCancelPolicy(true)
    t
  }

  // the CURRENT live swap's nonce per qualified table path, this JVM —
  // registered at withSwapToken entry, identity-removed at exit.
  // Ownership is decided in TWO layers:
  //   - the registry (here) settles the IN-JVM zombie: a beat that
  //     wedged inside a medium call and unblocked after its swap exited
  //     is no longer the registered swap for the path and touches
  //     nothing (the token may belong to a newer swap);
  //   - a registered beat additionally RE-READS the token and backs off
  //     from a FOREIGN nonce whose stamp is FRESH — the cross-JVM case
  //     the lease premise normally excludes (a writer losing its lease
  //     mid-swap to a GC pause while a successor JVM starts its own
  //     swap: both are locally registered, and without the re-read their
  //     beats would clobber each other's token indefinitely). A foreign
  //     nonce whose stamp is STALE is a dead zombie's late-landing blind
  //     write — RECLAIM it (refusing would leave the stale stamp as the
  //     token for the rest of the window, a persistent false crash-park
  //     to every reader). During the fresh-foreign back-off the token IS
  //     fresh, so lease-free readers read "in-flight, retry" — correct
  //     either way; and when a backed-off-from zombie stamp crosses
  //     staleness between firings, the next firing reclaims it, so the
  //     false-park exposure stays bounded by ONE beat period — the same
  //     residual any zombie landing always had (per-swap identity doc
  //     below), not a new window.
  // Same instance-identity move as WarehouseLease's activeHolds, for the
  // same reason.
  private val activeSwaps =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Run `body` (the rename window of a rewrite swap) under a LIVE
    * inflight token: stamped before the body, re-stamped every TTL/3
    * while it runs, cleared after. The beat is what keeps a healthy swap
    * that outlives the TTL (a copy-based directory rename of a huge
    * table) reading as in-flight instead of false-crashing lease-free
    * readers; a killed writer's beat dies with the process and the token
    * goes stale one TTL later. The stamp/clear pair and the beat
    * serialize on a per-call monitor so a beat already firing can never
    * re-stamp a token the exit just cleared.
    */
  private[graft] def withSwapToken[T](spark: SparkSession,
                                      fs: org.apache.hadoop.fs.FileSystem,
                                      path: String)(body: => T): T = {
    val lock = new java.util.concurrent.locks.ReentrantLock
    val active = new java.util.concurrent.atomic.AtomicBoolean(true)
    // per-swap identity: a ZOMBIE beat — one wedged inside a medium call
    // that unblocks after its swap exited — finds itself no longer
    // registered on the path (the activeSwaps check) and refuses to
    // clobber what a newer swap stamped; the LIVE swap's beat conversely
    // reclaims a zombie's STALE blind late write within one period, and
    // backs off from a FRESH foreign stamp (a cross-JVM successor's live
    // token — activeSwaps doc). The remaining window is a WRITE that
    // wedged after its owner re-check and lands late — read-to-write
    // instants, and the live beat heals even that within one period
    // instead of leaving it stale.
    val nonce = java.util.UUID.randomUUID().toString.take(12)
    val key = fs.makeQualified(new org.apache.hadoop.fs.Path(path)).toString
    stampSwapToken(fs, path, nonce)
    // register AFTER the entry stamp: a stamp failure aborts the swap
    // right here (before the try/finally exists to clean up), and a
    // registration it left behind would leak until the path's next
    // successful swap. Beats only start below, so nothing reads the
    // registry in between.
    activeSwaps.put(key, nonce)
    val period = math.max(swapInflightTtlMs(spark) / 3L, 50L)
    val staleBoundMs = swapInflightTtlMs(spark) + swapSkewAllowanceMs(spark)
    // a FOREIGN nonce with a FRESH stamp is another live swap's token
    // (cross-JVM lease loss — activeSwaps doc): back off, never clobber.
    // A read failure or unparsable token reports (0, "") = stale +
    // unowned, so a degraded store degrades toward re-stamping our own
    // token (registry-owned default), never toward silently abandoning
    // the beat. Sampled per firing — a back-off is re-decided every
    // period, so a foreign token going stale is reclaimed within one.
    def freshForeignToken(): Boolean =
      readSwapTokenFull(fs, path).exists { case (st, n) =>
        n.nonEmpty && n != nonce &&
          System.currentTimeMillis() - st <= staleBoundMs
      }
    val beat = restampPool.scheduleAtFixedRate(
      // token I/O never runs on the dispatcher pool (restampPool doc):
      // BeatDispatch spawns a single-use daemon thread per firing,
      // skipped when a previous beat still holds the lock (wedged or
      // merely slow)
      () => BeatDispatch.fireOnce(lock, "graft-swap-token-io") {
        // ownership = registration (the in-JVM zombie check) AND no
        // fresh foreign stamp on the token (the cross-JVM back-off):
        // while both hold, whatever sits at the token path — our own
        // stamp, a dead zombie's STALE late-landing clobber (reclaimed
        // here within one period), or a racing absence —
        // is ours to re-stamp; once deregistered, this beat is itself
        // the zombie and must touch nothing (a newer swap may own the
        // token, or nobody does and stamping would resurrect it).
        if (active.get() && activeSwaps.get(key) == nonce &&
            !freshForeignToken())
          try stampSwapToken(fs, path, nonce)
          catch { case _: Exception => () }
      },
      period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    try body
    finally {
      active.set(false)
      beat.cancel(false)
      // bounded wait for an in-flight beat so the clear is ordered after
      // its re-stamp; on timeout (the beat is wedged on a degraded
      // store — where the body's own renames are wedged first, so this
      // exit rarely even runs) clear anyway: the worst case is inert
      // token residue next to a healthy table, re-stamped by the next
      // swap (object doc). One accepted residual on a store that
      // wedges-then-recovers: the clear itself can block on the same
      // hung fs (the writer was already lost inside its renames). The
      // clear is nonce-guarded like the beat — it never deletes a later
      // swap's live token.
      val locked =
        try lock.tryLock(period, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException =>
          Thread.currentThread().interrupt(); false }
      try {
        // we are still the registered live swap at our own exit, so a
        // token here is ours to clear — our own stamp, or a zombie's
        // STALE garbage that landed after our last beat (leaving that
        // would hold a stale token next to the healed table). The one
        // exception mirrors the beat's back-off: a FRESH FOREIGN stamp
        // is a cross-JVM successor's live token (we lost the lease
        // mid-swap) — leave it; clearing would false-park the
        // successor's readers for up to one of its beat periods. Skip
        // when nothing is there.
        if (readSwapTokenFull(fs, path).exists { case (st, n) =>
          n.isEmpty || n == nonce ||
            System.currentTimeMillis() - st > staleBoundMs
        }) clearSwapToken(fs, path)
      } catch { case _: Exception => () }
      finally {
        if (locked) lock.unlock()
        activeSwaps.remove(key, nonce)
      }
    }
  }

  private def parkedStoreError(path: String): Nothing =
    throw new IllegalStateException(
      s"$path is crash-parked: the live directory is absent and the " +
        "complete table sits at ._compact_old (a rewrite swap died " +
        "between its two renames). This caller does not hold the " +
        "warehouse write lease, and healing without it can collide with " +
        "a concurrent writer's in-flight swap — run CorpusIngest.repair " +
        "(or any leased entry point, which heals on entry) and retry")

  private def swapInFlightError(path: String): Nothing =
    throw new IllegalStateException(
      s"$path is mid-swap: a writer stamped ._swap_inflight and is " +
        "between its two renames right now (live absent, data staged at " +
        "._compact_old). This is a healthy in-flight rewrite, NOT a " +
        "crash — do not run repair; retry shortly. If the writer died, " +
        s"the token goes stale after $SwapInflightTtlKey (default 60 s) " +
        "and this read reports the crash-park instead")

  /** Existence gate for store paths, park-aware — the one gate every
    * branch decision (first-drop vs incremental, purge vs skip, filter vs
    * pass-through) must use instead of raw `pathExists`, which reads a
    * crash-parked store as ABSENT and silently flips those branches
    * (first-drop over an existing corpus loses every new-old pair
    * forever; a survivors view admits every duplicate).
    *
    *   - healthy → true; genuinely absent (no `._compact_old`) → false
    *   - parked + this thread holds the enclosing warehouse's write lease
    *     (`WarehouseLease.heldByCurrentThread`) → heal via `recoverSwap`,
    *     then true: the lease guarantees no other writer's swap is
    *     mid-flight, so the rename-back is safe
    *   - parked + lease-free → consult the swap-inflight token. A fresh
    *     token: a healthy swap is plausibly between its renames —
    *     re-probe the live path once (its swap-in may have landed
    *     already) and, if still parked, throw the IN-FLIGHT error
    *     ("retry, don't repair"). No token or a stale one: no writer can
    *     be mid-swap — but a HEALTHY writer may have completed its swap
    *     and cleared its token between our park check and the token read,
    *     so re-probe the live path once here too before throwing the
    *     crash-park error pointing at `repair`. Either way a parked store
    *     never silently reads as absent, and no timing probe sits on the
    *     read path.
    */
  def storePresent(spark: SparkSession, path: String): Boolean =
    if (pathExists(spark, path)) true
    else if (WarehouseLease.heldByCurrentThread(spark, path))
      recoverSwap(spark, path)
    else if (!hasParkedSwap(spark, path))
      // re-probe before answering ABSENT: a swap-in rename landing
      // between the pathExists above and hasParkedSwap's two exists
      // calls makes both read false on a table that is HEALTHY right
      // now — the in-JVM hammer test caught a reader in that instant.
      // Absent must mean absent, not "mid-rename when I looked".
      pathExists(spark, path)
    else {
      // staleness is writer-stamp vs reader-clock: the conf'd skew
      // allowance (SwapSkewAllowanceKey) mechanically absorbs a reader
      // running ahead of the writer, on top of the TTL-sizing advice
      val fresh = readSwapToken(spark, path).exists(stamp =>
        System.currentTimeMillis() - stamp <=
          swapInflightTtlMs(spark) + swapSkewAllowanceMs(spark))
      // one live re-probe in EVERY branch: a healthy swap may have
      // completed (swap-in landed; token possibly already cleared) since
      // the checks above
      if (pathExists(spark, path)) true
      else if (!hasParkedSwap(spark, path)) pathExists(spark, path)
      else if (fresh) swapInFlightError(path)
      else parkedStoreError(path)
    }

  /** Restore a table whose last rewrite-swap crashed mid-rename (live path
    * gone, complete data parked at `._compact_old`). Returns true when a
    * recovery was performed; false when the table is healthy (no-op).
    */
  def recoverSwap(spark: SparkSession, path: String): Boolean = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + "._compact_old")
    if (fs.exists(live) || !fs.exists(old)) false
    else {
      require(fs.rename(old, live),
        s"recoverSwap: could not restore $path from ._compact_old")
      // the crashed swap's inflight token has served its purpose (the
      // park is healed); clear it so no stale stamp survives to confuse
      // a LATER park's readers
      clearSwapToken(fs, path)
      // absent → present is a file-set change like any publish: stamp
      // the generation so foreign readers that cached the parked state
      // (or pre-park listings) relist on object stores too
      Sinks.stampRewriteGen(spark, path)
      true
    }
  }

  /** Enumerate CRASH-PARKED rewrite swaps under `root`: directories named
    * `<table>._compact_old` whose live `<table>` path is ABSENT — the
    * state a process dying between a swap's two renames leaves behind
    * (data complete, table path gone). Reads of a parked table fail until
    * `recoverSwap` (or the next swap on it) restores the rename; this
    * enumeration is how an operator inheriting a warehouse finds every
    * parked table in one pass — the fsck entry points surface each hit.
    * The traversal itself is [[WarehouseWalk.scan]] — the ONE shared
    * driver-side walk (one `listStatus` batch per directory, parked
    * verdict off each directory's own listing), so callers that need
    * several censuses at once (fsck, repair) scan once and read this
    * finding off the shared result instead of re-walking per
    * recognizer.
    */
  def parkedSwaps(spark: SparkSession, root: String): Seq[String] =
    WarehouseWalk.scan(spark, root).parkedSwaps

  /** Parked-swap paths resolved to (live table path, warehouse-RELATIVE
    * table name) pairs — the shape the fsck/repair call sites report:
    * the relative name disambiguates two parked tables sharing a
    * basename (the walk covers the whole tree), and deriving it here
    * keeps the `._compact_old` naming convention in one place. Takes
    * the walk's finding as input so a caller holding a shared
    * [[WarehouseWalk]] scan pays no second traversal.
    */
  def resolveParkedTables(spark: SparkSession, root: String,
                          parked: Seq[String]): Seq[(String, String)] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    // qualify the root the same way the walk's listStatus qualifies its
    // results — a RELATIVE root would otherwise never prefix-match and
    // the "relative" name would degrade to the absolute path
    val rootUri = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(rp).toUri.getPath
    parked.map { p =>
      val table = p.stripSuffix("._compact_old")
      val tableUri = new org.apache.hadoop.fs.Path(table).toUri.getPath
      (table, tableUri.stripPrefix(rootUri).dropWhile(_ == '/'))
    }
  }

  /** One-call form of [[resolveParkedTables]] for callers that need only
    * this census (status, backfill) — runs its own walk.
    */
  def parkedSwapTables(spark: SparkSession,
                       root: String): Seq[(String, String)] =
    resolveParkedTables(spark, root, parkedSwaps(spark, root))
}
