package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.app.CorpusIngest
import org.apache.spark.sql.SparkSession

/** Forked-JVM body for the MIXED-WORKLOAD soak race (SoakRaceSpec): a
  * writer driver working through a deterministic plan of corpus drops —
  * text + embeddings + media ingests, governance deletes (the delete
  * cascade is what exercises the rewrite-swap protocol mid-soak), and a
  * snapshot pin + training export (the commit-marker-last publish
  * protocol, raced here under kills like every other seam) — that
  * the parent SIGKILLs at seeded-random points and restarts until the
  * plan completes. Each protocol (lease, swap token, ledger publishes,
  * keyed idempotent appends) has its own isolated race suite; this body
  * exists to COMPOSE them: a real crash lands wherever it lands in the
  * ingest call tree, and the recovery story (retry the drop; fsck +
  * repair; survivors unchanged) has to hold for every such point at
  * once.
  *
  * Mode `write <warehouse> <eventsFile> <leaseTtlMs>`: run the plan,
  * SKIPPING drops the events file already records as done — the crash
  * -resume contract is "re-run the killed drop; everything it landed is
  * a keyed no-op". Each drop is wrapped in an OUTER short-TTL lease
  * hold (re-entrant with the entry points' own default-TTL holds, so
  * the short TTL is the one on the medium): a killed writer's stamp
  * must expire within seconds, not the production 15 minutes, for the
  * restart to reclaim it inside a test budget. Events (O_APPEND single
  * lines on a posix fs):
  *   `drop-start <k>` / `drop-done <k>` / `all-done`
  *
  * The PLAN and the per-drop inputs live here as pure functions of the
  * drop index so the parent's uninterrupted control run uses byte-equal
  * inputs through the identical entry points.
  */
object SoakRaceMain {

  val NumDrops = 10

  /** Fixed stamps for the snapshot/export drops: explicit so the soak
    * and control pins are byte-comparable (default clock stamps would
    * differ between runs). Arbitrary positive values — the stamp
    * ledgers are empty before these drops, so any advancing pair works.
    */
  val SnapTs = 9000000L
  val ExportTs = 9500000L

  /** Deterministic near-dup-bearing text: ids pair (4k+0, 4k+1) as
    * near-duplicates (one token changed out of 40), everything else
    * unrelated (disjoint token vocabularies).
    */
  def docText(id: Long): String = {
    val base = if (id % 4 == 1) id - 1 else id
    val words = (0 until 40).map { j =>
      if (id % 4 == 1 && j == 7) "changed"
      else "tok" + ((base * 131 + j * 17) % 9973)
    }
    words.mkString(" ")
  }

  /** Deterministic embeddings: ids pair (4k+0, 4k+1) as near-identical
    * twins (same one-hot major, epsilon side component).
    */
  def embedding(id: Long): Array[Float] = {
    val base = if (id % 4 == 1) id - 1 else id
    val a = Array.fill(64)(0f)
    a((base % 64).toInt) = 1f
    if (id % 4 == 1) a(((base + 1) % 64).toInt) = 0.01f
    a
  }

  /** Apply drop `k` of the plan to `warehouse` through the production
    * entry points. Overlapping id ranges across drops exercise the
    * store-trim/no-op replay paths even without a crash; the two delete
    * drops exercise the swap-protocol rewrite cascade; the final two
    * exercise the commit-marker-last snapshot/export publishes.
    */
  def applyDrop(spark: SparkSession, warehouse: String, k: Int): Unit = {
    import spark.implicits._
    k match {
      case 0 => CorpusIngest.run(spark,
        (0L until 20L).map(i => (i, docText(i))).toDF("doc_id", "text"),
        warehouse)
      case 1 => CorpusIngest.ingestEmbeddings(spark,
        (0L until 16L).map(i => (i, embedding(i))).toDF("vec_id", "embedding"),
        warehouse)
      case 2 => CorpusIngest.ingestMedia(spark,
        graft.operators.Multimodal.syntheticImageCorpus(
          (0L until 6L).toDF("doc_id")), warehouse)
      case 3 => CorpusIngest.run(spark,
        (15L until 35L).map(i => (i, docText(i))).toDF("doc_id", "text"),
        warehouse)
      case 4 => CorpusIngest.delete(spark, warehouse, Seq(2L, 7L, 16L))
      case 5 => CorpusIngest.ingestEmbeddings(spark,
        (12L until 28L).map(i => (i, embedding(i))).toDF("vec_id", "embedding"),
        warehouse)
      case 6 => CorpusIngest.ingestMedia(spark,
        graft.operators.Multimodal.syntheticImageCorpus(
          (4L until 12L).toDF("doc_id")), warehouse)
      case 7 => CorpusIngest.deleteMedia(spark, warehouse, Seq(1L, 5L))
      // the two commit-marker-last publishes (snapshot pin, training
      // export) — the one protocol family the soak's first 8 drops
      // never exercised. Guarded on the committed census first, exactly
      // the production retry shape: a kill AFTER the commit marker but
      // BEFORE the caller records success means the retry re-requests
      // an explicitly-stamped artifact that already exists, which the
      // stamp monotonicity check refuses by design (loud, never a
      // silent double-pin) — so the retry loop's first move is "is it
      // already committed?".
      case 8 =>
        import org.apache.spark.sql.functions.col
        val committed = graft.app.CorpusSnapshots
          .listCorpusSnapshots(spark, warehouse)
          .where(col("snap_ts") === SnapTs).count() > 0
        if (!committed)
          graft.app.CorpusSnapshots.snapshotCorpus(spark, warehouse,
            atMs = Some(SnapTs))
      case 9 =>
        import org.apache.spark.sql.functions.col
        val committed = graft.app.CorpusExports
          .listCorpusExports(spark, warehouse)
          .where(col("export_ts") === ExportTs).count() > 0
        if (!committed)
          graft.app.CorpusExports.exportCorpus(spark, warehouse,
            asOfMs = SnapTs, numShards = 4, atMs = Some(ExportTs))
    }
    ()
  }

  private def logEvent(eventsFile: String, line: String): Unit =
    Files.write(Paths.get(eventsFile), (line + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.APPEND)

  /** Token-wise parse: pair-phase writers suffix their id onto the
    * event line (`drop-done 3 pairB`), so the drop index is the first
    * token after the tag, never the whole remainder.
    */
  private def doneDrops(eventsFile: String): Set[Int] = {
    val p = Paths.get(eventsFile)
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p).toArray.toSeq.map(_.toString)
      .collect { case s if s.startsWith("drop-done ") =>
        s.stripPrefix("drop-done ").trim.split("\\s+")(0).toInt }.toSet
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "write" =>
      val warehouse = args(1); val eventsFile = args(2); val ttlMs = args(3)
      val wedge = args.length > 4 && args(4) == "wedge"
      // optional writer id (pair phase): suffixed onto drop events so
      // the parent can attribute work and refusals per contender
      val writerId = if (args.length > 5) " " + args(5) else ""
      val spark = SparkSession.builder()
        .master("local[4]")
        .appName("soak-race-writer")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        // `wedge` mode: the LeaseSpec WEDGED-medium shape composed into
        // the soak — every 3rd lease refresh stalls ~2 beat periods (on
        // the beat's own single-use thread, so the drop body never
        // blocks and the stall stays well inside the TTL), which makes
        // BeatDispatch skip the firings queued behind it. The parent
        // asserts the skipped-beats gauge moved under REAL mixed load +
        // kills, not just in the unit wedge cases; `gauges` events
        // carry this JVM's counters out (they are JVM-scoped by design).
        if (wedge) {
          val inner = graft.core.WarehouseLease.mediumFor(spark, warehouse)
          val calls = new java.util.concurrent.atomic.AtomicLong(0L)
          graft.core.WarehouseLease.registerMedium("file", (_, _) =>
            new graft.core.WarehouseLease.LeaseMedium {
              override def read(): Option[String] = inner.read()
              override def createIfAbsent(c: String): Boolean =
                inner.createIfAbsent(c)
              override def refresh(e: String, n: String): Boolean = {
                if (calls.incrementAndGet() % 3 == 0)
                  Thread.sleep(ttlMs.toLong * 2 / 3)
                inner.refresh(e, n)
              }
              override def reclaim(e: String, n: String): Boolean =
                inner.reclaim(e, n)
              override def release(e: String): Unit = inner.release(e)
            })
        }
        for (k <- 0 until NumDrops if !doneDrops(eventsFile).contains(k)) {
          logEvent(eventsFile, s"drop-start $k$writerId")
          // a killed predecessor's lease expires by the short TTL; spin
          // on LeaseHeldException until the reclaim wins (bounded —
          // anything past TTL + beat slack means a real lease bug). In
          // the PAIR phase the holder is a LIVE contender, not a corpse:
          // the refusal must stay loud (logged once per drop) and the
          // loser retries into the next acquire — never silently
          // proceeds, never dies. A LeaseLostException (the heartbeat
          // gap outran the TTL, e.g. under CPU starvation, and the body
          // may have interleaved with the other writer) is retried the
          // same way, within the same deadline: re-running the drop is
          // the documented recovery, and every drop is a keyed no-op
          // replay. A drop the other pair writer finished meanwhile ends
          // the wait: a live holder running drop after drop can win every
          // re-acquire, so a loser that re-read the done set only under
          // the lease would starve into its deadline.
          val deadline = System.currentTimeMillis() + ttlMs.toLong * 10 + 30000L
          var acquired = false
          var ran = false
          var refusalLogged = false
          def retry(e: Exception): Unit = {
            if (System.currentTimeMillis() > deadline) throw e
            Thread.sleep(500L)
          }
          while (!acquired && !doneDrops(eventsFile).contains(k)) {
            ran = false
            try {
              graft.core.WarehouseLease.withWriteLease(spark, warehouse,
                ttlMs = ttlMs.toLong) {
                // re-read under the lease: the other pair writer may have
                // finished this drop while we waited, and replaying it
                // after its successors (e.g. an ingest after the delete
                // that followed it) would undo their effects
                if (!doneDrops(eventsFile).contains(k)) {
                  applyDrop(spark, warehouse, k)
                  ran = true
                }
              }
              acquired = true
            } catch {
              case e: graft.core.WarehouseLease.LeaseHeldException =>
                if (!refusalLogged) {
                  logEvent(eventsFile, s"lease-held $k$writerId")
                  refusalLogged = true
                }
                retry(e)
              case e: graft.core.WarehouseLease.LeaseLostException =>
                logEvent(eventsFile, s"lease-lost $k$writerId")
                retry(e)
            }
          }
          if (ran) logEvent(eventsFile, s"drop-done $k$writerId")
          // JVM-scoped coordination gauges ride the events file out —
          // (orphaned connects, skipped beats), WarehouseLease order
          logEvent(eventsFile, "gauges " + graft.core.WarehouseLease
            .coordinationGauges.map(_._2).mkString(" "))
        }
        logEvent(eventsFile, "all-done")
      } finally spark.stop()
      sys.exit(0)

    case other =>
      System.err.println(s"unknown mode $other")
      sys.exit(3)
  }
}
