package graft.app

import graft.core.Sinks
import graft.app.CorpusStore._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reproducible corpus SNAPSHOTS: pin curated membership as id-only
  * bucketed manifests with commit-marker-last crash ordering; read pinned
  * states with takedowns flowing through. Split out of CorpusIngest
  * (which re-exports the public API) purely for module size.
  */
object CorpusSnapshots {

  // ===== Reproducible corpus snapshots ======================================
  //
  // A training run needs to name the EXACT corpus it read — across later
  // drops, dedup-cluster churn, and takedowns — without freezing 100 TB of
  // text per run. A snapshot here pins curated MEMBERSHIP, not bytes: an
  // id-only manifest of the curated survivor set, written as its own
  // bucketed store co-located with `corpus/documents` (same doc_id bucket
  // layout), so `curatedAsOf`'s semi-join plans no exchange on the
  // corpus-sized side however many snapshots accumulate. The trade is
  // deliberate and governance-CORRECT: reading a snapshot joins the
  // manifest against the LIVE document store, so a takedown flows through
  // every historical snapshot automatically (`delete` physically purges
  // the rows) — "reproducible" never means "retains what compliance
  // removed". With content-keyed ids (the links table's contract),
  // membership-of-ids IS membership-of-bytes for every doc that is still
  // lawful to read.
  //
  // Crash ordering: manifest rows land first, the `_snap_commit` marker
  // (holding the manifest count — the list API's metadata read) lands
  // LAST, and every reader ignores uncommitted dirs — a crash mid-write
  // leaves residue that is invisible, flagged by fsck, and cleared by
  // repair. Stamps are strictly monotonic per warehouse (enforced under
  // the lease), so "latest at or before t" is unambiguous.
  private[app] def snapsRoot(wh: String) = s"$wh/corpus/snapshots"

  private[app] def snapDirOf(wh: String, ts: Long) = s"${snapsRoot(wh)}/snap_ts=$ts"

  private[app] def snapCommitLedger(dir: String) = dir + "/_snap_commit"

  /** (committed snapshot stamps ascending, uncommitted residue dirs). */
  private[app] def scanSnapshots(spark: SparkSession,
                            wh: String): (Seq[Long], Seq[String]) =
    scanStamped(spark, snapsRoot(wh), "snap_ts=", "_snap_commit")

  /** Pin the current curated corpus as a named snapshot; returns its
    * stamp (epoch millis — the handle `curatedAsOf` resolves). Leased:
    * the manifest must be one drop's consistent view, not a torn read
    * across a concurrent ingest. Audited (`op = snapshot`, counting the
    * snapshot census in the snapshots "table") so the compliance trail
    * records every corpus a training run could have pinned. Explicit
    * `atMs` stamps must advance past the latest snapshot — refused
    * otherwise; the default clock stamp self-corrects same-millisecond
    * collisions.
    */
  def snapshotCorpus(spark: SparkSession, warehouse: String,
                     atMs: Option[Long] = None): Long =
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    require(keyedStorePresent(spark, docsPath(warehouse)),
      s"snapshotCorpus: no document store at ${docsPath(warehouse)} — " +
        "ingest first")
    val (prior, _) = scanSnapshots(spark, warehouse)
    val ts = nextStamp(prior, atMs, "snapshotCorpus")
    val dir = snapDirOf(warehouse, ts)
    // manifest bucket layout mirrors the document store's (present, hence
    // bucketed) so the as-of semi-join co-locates
    val (_, buckets) = Sinks.bucketSpecOf(spark, docsPath(warehouse)).get
    Sinks.bucketedIdempotentAppend(
      Governance.curatedSurvivors(spark, warehouse).select(col("doc_id")),
      dir, keys = Seq("doc_id"), bucketKeys = Seq("doc_id"),
      buckets = buckets)
    val n = Sinks.readBucketedPath(spark, dir).count()
    // commit point: the marker lands only over a fully-written manifest
    writeLongLedger(spark, snapCommitLedger(dir), n)
    Governance.appendAudit(spark, warehouse, "snapshot", "doc_id", n,
      Map("snapshots" -> ((prior.size.toLong, prior.size.toLong + 1L))))
    ts
  }

  /** Census of committed snapshots: (snap_ts, n_docs), ascending. The
    * counts come off the commit markers — a metadata read, no manifest
    * scan. Driver-sized by construction (one row per retained snapshot).
    */
  def listCorpusSnapshots(spark: SparkSession, warehouse: String): DataFrame = {
    import spark.implicits._
    scanSnapshots(spark, warehouse)._1
      .map(ts => (ts,
        readLongLedger(spark, snapCommitLedger(snapDirOf(warehouse, ts)))))
      .toDF("snap_ts", "n_docs")
  }

  /** The curated corpus as pinned by the latest snapshot at or before
    * `asOfMs` — full document rows, manifest-membership ∩ live store
    * (id-bucketed semi-join, co-located with `corpus/documents`).
    * Takedowns since the snapshot are ABSENT by construction. Lease-free
    * read; refuses when no snapshot covers the asked time (an expired or
    * never-taken snapshot must fail the training run, not silently serve
    * the live view).
    */
  def curatedAsOf(spark: SparkSession, warehouse: String,
                  asOfMs: Long): DataFrame = {
    val covered = scanSnapshots(spark, warehouse)._1.filter(_ <= asOfMs)
    require(covered.nonEmpty,
      s"curatedAsOf: no committed corpus snapshot at or before $asOfMs " +
        s"under ${snapsRoot(warehouse)} — run snapshotCorpus (or the " +
        "snapshot asked for was expired)")
    readStore(spark, docsPath(warehouse)).join(
      Sinks.readBucketedPath(spark, snapDirOf(warehouse, covered.max)),
      Seq("doc_id"), "left_semi")
  }

  /** Membership delta between two committed snapshots: (doc_id, change)
    * with change ∈ {added, removed} — what a training team reviews before
    * re-pinning a corpus (and the input to an incremental re-export: the
    * adds are exactly what `extendExport` appends). A doc_id appears at
    * most once — snapshot manifests are membership sets. Lease-free read;
    * refuses uncommitted stamps like every snapshot read.
    *
    * Scale: two anti-joins between id-only manifests bucketed identically
    * on doc_id — co-located, no exchange on either side at any corpus
    * size.
    */
  def snapshotDiff(spark: SparkSession, warehouse: String,
                   fromTs: Long, toTs: Long): DataFrame = {
    // swapped arguments would silently invert the added/removed labels —
    // and those deltas feed re-export review workflows. Refuse, don't
    // normalize: the caller naming time backwards is a bug upstream.
    require(fromTs <= toTs,
      s"snapshotDiff: fromTs=$fromTs is after toTs=$toTs — argument order " +
        "is (earlier, later); a swapped call would invert added/removed")
    val snaps = scanSnapshots(spark, warehouse)._1
    for (ts <- Seq(fromTs, toTs))
      require(snaps.contains(ts),
        s"snapshotDiff: no committed corpus snapshot snap_ts=$ts under " +
          s"${snapsRoot(warehouse)} — see listCorpusSnapshots")
    val a = Sinks.readBucketedPath(spark, snapDirOf(warehouse, fromTs))
    val b = Sinks.readBucketedPath(spark, snapDirOf(warehouse, toTs))
    b.join(a, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("added").as("change"))
      .unionByName(a.join(b, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("removed").as("change")))
  }

  /** Retention: drop the oldest committed snapshots beyond `keepLast`.
    * Leased and audited like every other mutation; returns how many were
    * expired. Reads against an expired stamp fail loudly at `curatedAsOf`
    * — the documented contract, not data loss (manifests hold ids only).
    */
  def expireCorpusSnapshots(spark: SparkSession, warehouse: String,
                            keepLast: Int): Long =
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    require(keepLast >= 1, "expireCorpusSnapshots: keepLast must be >= 1")
    val (snaps, _) = scanSnapshots(spark, warehouse)
    val drop = snaps.dropRight(keepLast)
    drop.foreach(ts => dropStore(spark, snapDirOf(warehouse, ts)))
    if (drop.nonEmpty)
      Governance.appendAudit(spark, warehouse, "expire_snapshots", "snap_ts",
        drop.size.toLong,
        Map("snapshots" -> ((snaps.size.toLong,
          snaps.size.toLong - drop.size))))
    drop.size.toLong
  }
}
