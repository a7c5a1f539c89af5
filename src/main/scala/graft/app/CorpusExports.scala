package graft.app

import graft.core.Sinks
import graft.app.CorpusStore._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reproducible training EXPORTS: a snapshot's membership fixed into the
  * deterministic global shuffle — (doc_id, shard, pos) manifests that pin
  * the trainer's byte order across takedowns (gap, never re-shuffle) and
  * delta-bounded extends. Split out of CorpusIngest (which re-exports the
  * public API) purely for module size.
  */
object CorpusExports {

  // ===== Reproducible training exports ======================================
  //
  // The export is the last warehouse artifact before a trainer reads
  // bytes: a snapshot's membership fixed into the DETERMINISTIC global
  // shuffle — (doc_id, shard, pos) via `CorpusOps.shardAssignment`'s
  // portable hashes — so a restarted or re-provisioned training job
  // re-derives byte-identical shard order from the warehouse instead of
  // trusting whatever files survived. Like snapshots, an export pins the
  // PLAN, not bytes: `readExport` joins the manifest against the LIVE
  // document store (id-bucketed, co-located with `corpus/documents`), so
  // takedowns flow through already-cut exports — a removed doc vanishes
  // from its shard while every OTHER doc keeps its (shard, pos); a
  // mid-training purge leaves a gap, never a re-shuffle under the
  // trainer's feet. An export is self-contained once committed (the
  // manifest holds the placement), so expiring its source snapshot does
  // not invalidate it.
  //
  // Same crash ordering as snapshots: manifest rows first, sidecar
  // ledgers (source snapshot stamp, shard count), then the
  // `_export_commit` marker (holding the manifest count) lands LAST;
  // readers ignore uncommitted dirs, fsck warns on them, repair clears
  // them.
  private[app] def exportsRoot(wh: String) = s"$wh/corpus/exports"

  private[app] def exportDirOf(wh: String, ts: Long) =
    s"${exportsRoot(wh)}/export_ts=$ts"

  private[app] def exportCommitLedger(dir: String) = dir + "/_export_commit"

  private[app] def exportSnapLedger(dir: String) = dir + "/_export_snap"

  private[app] def exportShardsLedger(dir: String) = dir + "/_export_shards"

  private[app] def exportBaseLedger(dir: String) = dir + "/_export_base"

  /** (committed export stamps ascending, uncommitted residue dirs). */
  private[app] def scanExports(spark: SparkSession,
                          wh: String): (Seq[Long], Seq[String]) =
    scanStamped(spark, exportsRoot(wh), "export_ts=", "_export_commit")

  /** Fix the corpus a training run reads: shard-assign the snapshot
    * membership at `asOfMs` (resolved exactly like `curatedAsOf` — the
    * latest committed snapshot at or before it; refused when none covers
    * it) into a deterministic (doc_id, shard, pos) manifest, persisted
    * id-bucketed so `readExport` co-locates with the document store.
    * Returns the export stamp. Leased — the manifest must be one
    * consistent view — and audited (`op = export`). The window behind
    * `shardAssignment` shuffles once on `shard` — increment-free by
    * design, since an export is a one-shot artifact, not a maintained
    * store.
    */
  def exportCorpus(spark: SparkSession, warehouse: String, asOfMs: Long,
                   numShards: Int, atMs: Option[Long] = None): Long =
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    require(numShards >= 1, s"exportCorpus: numShards must be >= 1")
    val snaps = CorpusSnapshots.scanSnapshots(spark, warehouse)._1.filter(_ <= asOfMs)
    require(snaps.nonEmpty,
      s"exportCorpus: no committed corpus snapshot at or before $asOfMs " +
        s"under ${CorpusSnapshots.snapsRoot(warehouse)} — run snapshotCorpus first")
    val (prior, _) = scanExports(spark, warehouse)
    val ts = nextStamp(prior, atMs, "exportCorpus")
    val dir = exportDirOf(warehouse, ts)
    val manifest = graft.operators.CorpusOps.shardAssignment(
      CorpusSnapshots.curatedAsOf(spark, warehouse, asOfMs).select(col("doc_id")), numShards)
    val buckets = Sinks.bucketSpecOf(spark, docsPath(warehouse))
      .map(_._2).getOrElse(8)
    Sinks.bucketedIdempotentAppend(manifest, dir, keys = Seq("doc_id"),
      bucketKeys = Seq("doc_id"), buckets = buckets)
    val n = Sinks.readBucketedPath(spark, dir).count()
    writeLongLedger(spark, exportSnapLedger(dir), snaps.max)
    writeLongLedger(spark, exportShardsLedger(dir), numShards.toLong)
    // commit point: the marker lands only over a fully-written manifest
    writeLongLedger(spark, exportCommitLedger(dir), n)
    Governance.appendAudit(spark, warehouse, "export", "doc_id", n,
      Map("exports" -> ((prior.size.toLong, prior.size.toLong + 1L))))
    ts
  }

  /** Extend a committed export with a LATER snapshot's additions — the
    * continued-pretraining evolution: every base-manifest row keeps its
    * (shard, pos) VERBATIM (the byte prefix a resumed or continued
    * training run already consumed), and docs in the resolved snapshot
    * but not the base manifest are appended past each shard's high-water
    * mark in the same portable-hash order `exportCorpus` would have used.
    * Docs that left the corpus since the base stay in the manifest —
    * takedown gaps flow through `readExport`'s live join exactly as they
    * do for a root export, never a re-shuffle. The new export is a
    * first-class committed artifact (own stamp, same sidecars plus an
    * `_export_base` lineage ledger; expiring the base does not invalidate
    * it). Leased and audited (`op = extend_export`).
    *
    * Scale: one anti-join between id-bucketed manifests (co-located), a
    * rank window over the ADDITIONS only (bounded by the delta, not the
    * corpus), and a broadcast of the numShards-row high-water frame. The
    * WRITE is manifest-sized (base rows copied verbatim + additions) —
    * the stated price of self-containment: an extended export stays a
    * first-class artifact that survives its base's expiry, and manifest
    * rows are thin ids (a billion-doc manifest is tens of GB, one
    * bucketed write), so the copy never touches corpus bytes.
    */
  def extendExport(spark: SparkSession, warehouse: String,
                   baseExportTs: Long, asOfMs: Long,
                   atMs: Option[Long] = None): Long =
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    val (prior, _) = scanExports(spark, warehouse)
    require(prior.contains(baseExportTs),
      s"extendExport: no committed export export_ts=$baseExportTs under " +
        s"${exportsRoot(warehouse)} — see listCorpusExports")
    val snaps = CorpusSnapshots.scanSnapshots(spark, warehouse)._1.filter(_ <= asOfMs)
    require(snaps.nonEmpty,
      s"extendExport: no committed corpus snapshot at or before $asOfMs " +
        s"under ${CorpusSnapshots.snapsRoot(warehouse)} — run snapshotCorpus first")
    val ts = nextStamp(prior, atMs, "extendExport")
    val dir = exportDirOf(warehouse, ts)
    val baseDir = exportDirOf(warehouse, baseExportTs)
    val numShards = readLongLedger(spark, exportShardsLedger(baseDir)).toInt
    val base = Sinks.readBucketedPath(spark, baseDir)
    val newDocs = Sinks.readBucketedPath(
        spark, CorpusSnapshots.snapDirOf(warehouse, snaps.max))
      .join(base, Seq("doc_id"), "left_anti").select(col("doc_id"))
    val baseMax = base.groupBy(col("shard"))
      .agg(max(col("pos")).as("max_pos"))
    val appended = graft.operators.CorpusOps.shardAssignmentAfter(
      newDocs, numShards, baseMax)
    val buckets = Sinks.bucketSpecOf(spark, docsPath(warehouse))
      .map(_._2).getOrElse(8)
    Sinks.bucketedIdempotentAppend(base.unionByName(appended), dir,
      keys = Seq("doc_id"), bucketKeys = Seq("doc_id"), buckets = buckets)
    val n = Sinks.readBucketedPath(spark, dir).count()
    writeLongLedger(spark, exportSnapLedger(dir), snaps.max)
    writeLongLedger(spark, exportShardsLedger(dir), numShards.toLong)
    writeLongLedger(spark, exportBaseLedger(dir), baseExportTs)
    // commit point: the marker lands only over a fully-written manifest
    writeLongLedger(spark, exportCommitLedger(dir), n)
    Governance.appendAudit(spark, warehouse, "extend_export", "doc_id", n,
      Map("exports" -> ((prior.size.toLong, prior.size.toLong + 1L))))
    ts
  }

  /** Census of committed exports: (export_ts, snap_ts, n_shards, n_docs,
    * base_ts), ascending — all off the sidecar ledgers, no manifest scan.
    * `base_ts` is the lineage of an extended export (-1 for a root cut).
    */
  def listCorpusExports(spark: SparkSession, warehouse: String): DataFrame = {
    import spark.implicits._
    scanExports(spark, warehouse)._1.map { ts =>
      val dir = exportDirOf(warehouse, ts)
      (ts, readLongLedger(spark, exportSnapLedger(dir)),
        readLongLedger(spark, exportShardsLedger(dir)),
        readLongLedger(spark, exportCommitLedger(dir)),
        readLongLedger(spark, exportBaseLedger(dir)))
    }.toDF("export_ts", "snap_ts", "n_shards", "n_docs", "base_ts")
  }

  /** The trainer's read: full document rows with their pinned
    * (shard, pos) placement — manifest ⋈ live store, id-bucketed both
    * sides so the join plans no exchange on the corpus-sized side.
    * Takedowns since the export are ABSENT; surviving docs keep their
    * placement. Lease-free read; refuses an unknown or uncommitted stamp
    * (an export handle must resolve exactly or fail the run).
    */
  def readExport(spark: SparkSession, warehouse: String,
                 exportTs: Long): DataFrame = {
    require(scanExports(spark, warehouse)._1.contains(exportTs),
      s"readExport: no committed export export_ts=$exportTs under " +
        s"${exportsRoot(warehouse)} — see listCorpusExports")
    readStore(spark, docsPath(warehouse)).join(
      Sinks.readBucketedPath(spark, exportDirOf(warehouse, exportTs)),
      Seq("doc_id"))
  }

  /** Pre-run shard verification — the check a trainer runs BEFORE reading
    * an export: per shard, the manifest's row count and placement
    * fingerprint next to the LIVE view's (manifest ∩ document store).
    * Equal columns mean the shard streams exactly the pinned bytes;
    * `n_manifest - n_live` counts takedown gaps (expected, reviewable via
    * the audit trail), and a fingerprint drift at EQUAL counts would
    * evidence placement corruption — impossible under the write
    * contracts, which is exactly why a trainer checks it.
    *
    * The fingerprint is an order-insensitive multiset hash of
    * (doc_id, shard, pos) placements: XOR of a portable per-row hash
    * (same modular family as the shard/order hashes, so DuckDB replays it
    * exactly). XOR, not SUM, so the aggregate cannot overflow at any
    * corpus size; manifest rows are doc_id-unique by construction, so
    * XOR's self-cancellation is unreachable.
    *
    * Scale: two aggregates over the id-sized manifest (the live side is
    * an id-projected semi-join co-located with the document store) into
    * `numShards` rows — no content read, driver-sized result.
    */
  def exportIntegrity(spark: SparkSession, warehouse: String,
                      exportTs: Long): DataFrame = {
    require(scanExports(spark, warehouse)._1.contains(exportTs),
      s"exportIntegrity: no committed export export_ts=$exportTs under " +
        s"${exportsRoot(warehouse)} — see listCorpusExports")
    val manifest = Sinks.readBucketedPath(
      spark, exportDirOf(warehouse, exportTs))
    val live = manifest.join(
      readStore(spark, docsPath(warehouse)).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val fp = ((col("doc_id") % 1000003L) * 40503L +
      col("pos") * 69069L) % 2147483647L
    def roll(df: DataFrame, n: String, f: String): DataFrame =
      df.select(col("shard"), fp.as("fp")).groupBy(col("shard"))
        .agg(count(lit(1)).as(n), expr("bit_xor(fp)").as(f))
    roll(manifest, "n_manifest", "fp_manifest")
      .join(roll(live, "n_live", "fp_live"), Seq("shard"), "left_outer")
      .select(col("shard"), col("n_manifest"),
        coalesce(col("n_live"), lit(0L)).as("n_live"),
        col("fp_manifest"),
        coalesce(col("fp_live"), lit(0L)).as("fp_live"))
  }

  /** Retention: drop the oldest committed exports beyond `keepLast`.
    * Leased, audited, loud-on-expired-read — `expireCorpusSnapshots`'
    * contract applied to exports.
    */
  def expireCorpusExports(spark: SparkSession, warehouse: String,
                          keepLast: Int): Long =
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    require(keepLast >= 1, "expireCorpusExports: keepLast must be >= 1")
    val (exps, _) = scanExports(spark, warehouse)
    val drop = exps.dropRight(keepLast)
    drop.foreach(ts => dropStore(spark, exportDirOf(warehouse, ts)))
    if (drop.nonEmpty)
      Governance.appendAudit(spark, warehouse, "expire_exports", "export_ts",
        drop.size.toLong,
        Map("exports" -> ((exps.size.toLong, exps.size.toLong - drop.size))))
    drop.size.toLong
  }
}
