package graft.app

import graft.core.Sinks
import graft.app.CorpusStore._
import graft.operators.{DedupOps, Multimodal, SimilarityOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch CORPUS ingest driver — the document-side twin of Backfill: each
  * run lands one crawl drop into the corpus warehouse under the
  * incremental-scan-don't-refetch protocol the reference applies to bars
  * (old_source/old_source_op.py:129-176), here applied to dedup state.
  * One drop's lifecycle:
  *
  *   1. TRIM the drop to genuinely-new doc_ids (anti-join against the
  *      persisted shingle store) — a replayed drop contributes nothing.
  *   2. SCORE the increment against the corpus with
  *      minhashLshIncremental: fresh signatures for the increment ONLY;
  *      the corpus side is the persisted band/shingle store — old text is
  *      never re-read.
  *   3. APPEND the verified pairs to the cumulative pair table
  *      (idempotent on (doc_a, doc_b)).
  *   4. APPEND the increment's signatures to the store and the documents
  *      to the corpus table (both idempotent).
  *
  * The warehouse layout:
  *   corpus/documents      — all landed docs (doc_id keyed)
  *   corpus/shingles       — (doc_id, sh) exact shingle sets
  *   corpus/bands          — (doc_id, band, sig) MinHash LSH store
  *   corpus/pairs          — cumulative verified near-dup pairs
  *
  * `survivors` derives the deduplicated corpus VIEW on demand: connected
  * components over the cumulative pair table (bounded by the duplicated
  * subset, not the corpus), keep-the-minimum canonical per cluster,
  * anti-join the losers. It is a read-side derivation, not a stored table
  * — the pair table is the durable state, so survivors never needs
  * backfilling after a takedown rewrites documents.
  *
  * Usage: runMain graft.app.CorpusIngest <dropParquet> <warehouseDir>
  */
object CorpusIngest {

  def main(args: Array[String]): Unit = {
    val Array(dropPath, warehouse) = args.take(2)
    val threshold =
      sys.env.getOrElse("SPARK_GRAFT_DEDUP_THRESHOLD", "0.5").toDouble
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-corpus-ingest")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CHECKPOINT_DIR switches the drop's lineage cuts to
    // durable checkpoints AND cleans the scratch on exit — a scheduled
    // cadence must not accumulate one rdd-* set per drop forever
    // (Checkpoints.withCheckpointDir's cleanup contract: run returns
    // scalars, so nothing handed back rides a checkpointed RDD)
    def drop() = run(spark, spark.read.parquet(dropPath), warehouse,
      threshold)
    val (nNew, nPairs) = sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR") match {
      case Some(dir) if dir.trim.nonEmpty =>
        graft.core.Checkpoints.withCheckpointDir(spark, dir,
          cleanup = true)(drop())
      case _ => drop()
    }
    println(s"[corpus-ingest] landed $nNew new docs, $nPairs new pairs")
    spark.stop()
  }

  /** Land one drop; returns (new docs landed, new verified pairs).
    *
    * After the appends, `corpus/bands` and `corpus/shingles` are compacted
    * down to one file per bucket once fragmentation exceeds Sinks' shared
    * 4× gate — a thousand-drop corpus otherwise pays a thousand file-opens
    * per store read in every later increment.
    *
    * `storeBuckets` fixes the signature store's bucket layout at warehouse
    * creation (Sinks' spec ledger carries it ever after): bands bucket on
    * the band-join key (band, sig), shingles on the verify key (doc_id),
    * so each drop's candidate and verify joins plan NO exchange on the
    * corpus-sized store side — the per-increment cost is increment-sized
    * however large the corpus grows. At warehouse scale pick
    * data / ~256 MB; the default suits test-sized corpora.
    *
    * `maxBucketCandidates` (off by default): per-(band, sig) hot-bucket
    * cap for the incremental probe — buckets holding more store members
    * than the cap are skipped and recorded in `corpus/capped_buckets`
    * (the documented recall trade; see DedupOps.overflowingBuckets). Set
    * it in production: the exchange-free store join opts out of AQE skew
    * splitting, so an uncapped boilerplate flood serializes every later
    * drop on one task.
    *
    * `hotBucketSalt` (with `maxBucketCandidates`): > 0 upgrades the skip
    * to the RECALL-PRESERVING salted split — hot buckets' candidates
    * derive through a salted branch bounded per task instead of being
    * dropped, the pair set equals the uncapped probe's, and nothing
    * lands in `corpus/capped_buckets` (there is no recall trade to
    * audit). Use skip mode for degenerate boilerplate, salt mode when
    * hot buckets are legitimate content.
    */
  def run(spark: SparkSession, drop: DataFrame, warehouse: String,
          threshold: Double = 0.5,
          storeBuckets: Int = 8,
          maxBucketCandidates: Option[Int] = None,
          hotBucketSalt: Int = 0): (Long, Long) =
    ingestVia(spark, drop, warehouse, textDrops(threshold), storeBuckets,
      maxBucketCandidates, hotBucketSalt)

  /** GOVERNANCE DELETE cascade — the corpus-warehouse form of
    * Sinks.deleteByKey's "gone from the FILES" contract. Deleting only from
    * `corpus/documents` is not a takedown: the doc's shingle set and MinHash
    * bands still sit in the signature store (recoverable content
    * fingerprints, and they make the ingest trim anti-join silently swallow
    * a legitimate re-submission of the same doc_id), and its pair rows keep
    * pulling it into dedup clusters. One call rewrites every warehouse
    * table without the keyed rows: documents / shingles / bands /
    * doc_stats / staged_drops (the stream path's full-text mirror) on
    * doc_id, pairs on doc_a OR doc_b (chained anti-joins in ONE rewrite —
    * Sinks.deleteBucketedByAnyKey), each through the bucketed writer so
    * the store layout survives. After the cascade a BATCH re-ingest of the
    * doc_id lands as new and re-derives its pairs, because the trim reads
    * the same shingle store the cascade purged.
    *
    * The STREAMING landing sits upstream of the warehouse's governance
    * boundary (its `_spark_metadata` manifest pins the file set, so it is
    * never rewritten — retention belongs to the stream's own lifecycle,
    * like the source crawl files). Because a later promotion would
    * otherwise re-stage the deleted doc from that landing and silently
    * undo the takedown, the delete also records the ids in
    * `corpus/tombstones`; `promoteAndIngest` purges tombstoned rows the
    * promote re-staged before anything reaches the dedup path. A
    * legitimate STREAMED re-submission of a deleted doc_id therefore needs
    * its tombstone lifted first — `reinstate` below — once the old landing
    * has aged out; the batch path needs nothing.
    * Returns per-table (rowsBefore, rowsAfter) for the audit trail a
    * governance pass needs.
    */
  def delete(spark: SparkSession, warehouse: String,
             docIds: Seq[Long]): Map[String, (Long, Long)] =
    deleteVia(spark, warehouse, TextModality, docIds)

  /** TOMBSTONE LIFT — the reversal half of the governance contract: a
    * takedown that turns out to be wrong (counter-notice, mistaken id) is
    * reversed by clearing the doc's tombstone rows, after which the SAME
    * doc_id re-lands through either path: batch `run` never consulted
    * tombstones, and the next streamed arrival survives
    * `promoteAndIngest`'s purge because the tombstone is gone. Without
    * this API a reversal required hand surgery on warehouse internals
    * (deleting rows out of `corpus/tombstones` directly). Lifting an id
    * that was never deleted — or lifting before any tombstone table exists
    * — is a no-op, so governance tooling can issue reinstates
    * unconditionally. Returns the number of tombstones actually lifted.
    *
    * NOTE the deliberate asymmetry with `delete`: reinstate touches ONLY
    * the tombstone table. It does not resurrect content — the doc's rows
    * are already purged from every table, and its content re-enters only
    * by being re-submitted (the doc must still be in the upstream landing
    * or a future drop). "Undo the block", not "undelete the data".
    */
  def reinstate(spark: SparkSession, warehouse: String,
                docIds: Seq[Long]): Long =
    reinstateVia(spark, warehouse, TextModality, docIds)

  /** Land one EMBEDDING drop — the semantic-modality twin of `run`: trim
    * the drop against the vector store (replayed drops are no-ops), derive
    * near-dup pairs for the increment only, append the cumulative pair
    * table and the sign-LSH signature store, compact when fragmented.
    * Returns (new vectors landed, new verified pairs).
    *
    * The drop frame is (vec_id, embedding: array<float>) — id-immutable
    * like the document model (two drops disagreeing on a vec_id's vector is
    * a caller bug; exact duplicate rows within one drop collapse). The
    * embedding tables are a SEPARATE id space and threshold regime from the
    * text corpus: cosine ≥ threshold has no relation to a Jaccard cut, so
    * `corpus/emb_pairs` stamps its own provenance ledger and a mismatched
    * threshold is refused before any work, exactly like `run`.
    *
    * Scale shape per drop, mirroring the text path's contract: signatures
    * are computed fresh only for the increment
    * (SimilarityOps.cosinePairsLshIncremental); the store sides of the
    * candidate and verify joins are bucketed on (band, code) / vec_id and
    * plan no exchange; old vectors are never re-projected.
    *
    * `trainedCentroids` opts the drop into SEMDEDUP maintenance: the
    * increment is assigned once against the supplied FROZEN centroids
    * (kmeansCentroids output, retrained on the warehouse's own cadence),
    * within-cluster pairs at `semThreshold` are derived against the
    * persisted `corpus/sem_asg` assignment store, and both the pair table
    * (`corpus/sem_pairs`, its own threshold ledger) and the assignment
    * store are appended — so cluster-level curation state stays current
    * per drop without ever re-assigning old vectors. After a retrain,
    * rebuild `corpus/sem_asg`/`corpus/sem_pairs` from scratch and resume
    * drops with the new centroids.
    */
  def ingestEmbeddings(spark: SparkSession, drop: DataFrame, warehouse: String,
                       threshold: Double = 0.42,
                       storeBuckets: Int = 8,
                       trainedCentroids: Option[DataFrame] = None,
                       semThreshold: Double = 0.9,
                       maxBucketCandidates: Option[Int] = None,
                       hotBucketSalt: Int = 0): (Long, Long) =
    ingestVia(spark, drop, warehouse,
      embeddingDrops(threshold, trainedCentroids, semThreshold), storeBuckets,
      maxBucketCandidates, hotBucketSalt)

  /** GOVERNANCE DELETE for the embedding modality — `delete`'s cascade over
    * the embedding tables, kept as a SEPARATE entry point because vec_id
    * and doc_id are independent id spaces (a warehouse that keys both from
    * one id calls both; `forget` resolves a shared content key across all
    * three). Purges emb_vecs / emb_bands / sem_asg / staged_emb_drops on
    * vec_id (the vector itself, its recoverable sign fingerprint, its
    * cluster assignment, and the stream path's staged mirror) and
    * emb_pairs / sem_pairs on vec_a OR vec_b, each through the bucketed
    * writer so the store layout survives. Tombstones the ids
    * unconditionally (same argument as the text cascade: a streaming
    * landing is never rewritten, so a later promotion would re-stage the
    * deleted vectors without the tombstone); `reinstateEmbeddings` lifts.
    * Returns per-table (rowsBefore, rowsAfter).
    */
  def deleteEmbeddings(spark: SparkSession, warehouse: String,
                       vecIds: Seq[Long]): Map[String, (Long, Long)] =
    deleteVia(spark, warehouse, EmbeddingModality, vecIds)

  /** `reinstate` for the embedding modality (see `reinstate`'s asymmetry
    * note: lifts the block, never resurrects data). */
  def reinstateEmbeddings(spark: SparkSession, warehouse: String,
                          vecIds: Seq[Long]): Long =
    reinstateVia(spark, warehouse, EmbeddingModality, vecIds)

  // ---- the one corpus drop path ------------------------------------------
  //
  // Text, embedding and media drops, takedowns, reinstates and survivor
  // views each run ONE body below. A modality is data: its warehouse
  // layout (CorpusStore.Modality) and, for ingest, the operator hooks of a
  // `Drops` description built from the entry point's own parameters. The
  // bodies never ask which modality they serve, so the crash ordering is
  // written once and cannot drift between modalities.

  /** How one modality's drop derives and lands its state; `ingestVia`
    * runs the hooks in its fixed order.
    *   - `cutoff`: the pair table's provenance (its `._threshold` value);
    *   - `geometry`: the band store's `._params` line;
    *   - `refuse`: further refusals before any work, given whether the
    *     commit table exists;
    *   - `dedup`: within-drop dedup of the trimmed drop;
    *   - `prepare`: per-drop frames derived once from the increment;
    *   - `overflow`: the band store's buckets holding more than a cap;
    *   - `firstPairs` / `pairsAgainst`: the increment's verified pairs on
    *     a first drop / against the stored corpus (hot buckets, salt);
    *   - `beforeCommit`: appends that land before the commit point, given
    *     whether the commit table exists;
    *   - `land`: the signature-store append, the commit table last;
    *   - `compacted`: the tables the fragmentation gate maintains.
    */
  private final case class Drops[P](
      m: Modality,
      cutoff: Double,
      geometry: Seq[(String, String)],
      refuse: (SparkSession, String, Boolean) => Unit = (_, _, _) => (),
      dedup: DataFrame => DataFrame,
      prepare: DataFrame => P,
      overflow: (DataFrame, Int) => DataFrame,
      firstPairs: P => DataFrame,
      pairsAgainst: (SparkSession, String, P, Option[DataFrame], Int) => DataFrame,
      beforeCommit: (SparkSession, String, P, Boolean, Int) => Unit =
        (_: SparkSession, _: String, _: P, _: Boolean, _: Int) => (),
      land: (SparkSession, String, P, Int) => Unit,
      compacted: Seq[String => String])

  private def textDrops(threshold: Double) = Drops[DataFrame](TextModality,
    cutoff = threshold,
    geometry = DedupOps.minhashParams(64, 16),
    // exact duplicate rows within one drop (an at-least-once crawl
    // re-emits a doc) collapse; conflicting texts under one doc_id remain
    // a caller bug (the doc model is id-immutable)
    dedup = _.dropDuplicates(),
    prepare = identity,
    overflow = DedupOps.overflowingBuckets,
    firstPairs = DedupOps.minhashLsh(_, threshold),
    pairsAgainst = (spark, wh, inc, hot, salt) =>
      DedupOps.minhashLshIncremental(readStore(spark, bandPath(wh)),
        readStore(spark, shinglePath(wh)), inc, threshold,
        excludeBuckets = hot, saltHotBuckets = salt),
    // documents and doc_stats are doc_id-keyed cumulative tables too;
    // bucketed on doc_id, the table side of each append's anti-join plans
    // no exchange
    beforeCommit = (spark, wh, inc, _, buckets) => {
      appendKeyedStore(spark, inc, docsPath(wh), buckets)
      appendKeyedStore(spark, docStats(inc), statsPath(wh), buckets)
    },
    // bands first, the shingle table (the trim key) last; the band table
    // is created first, so its create can be the one a crash cut
    land = (spark, wh, inc, buckets) => {
      healTornCreate(spark, bandPath(wh))
      DedupOps.appendSignatureStoreBucketed(inc, bandPath(wh),
        shinglePath(wh), buckets = buckets)
    },
    compacted = Seq(bandPath, shinglePath))

  private def embeddingDrops(threshold: Double,
                             trainedCentroids: Option[DataFrame],
                             semThreshold: Double) =
    Drops[DataFrame](EmbeddingModality,
      cutoff = threshold,
      geometry = SimilarityOps.embLshParams(6, 48, 64),
      // SemDeDup COVERAGE: a partial assignment store silently misses
      // semantic pairs forever, so the two ways to create one are both
      // errors. (1) Enabling sem maintenance on a warehouse that already
      // holds vectors the store never assigned — run retrainSemStore
      // first to cover them. (2) A sem-maintained warehouse receiving a
      // drop WITHOUT centroids — that drop's vectors would never enter
      // sem_asg.
      refuse = (spark, wh, storeExists) => {
        val semAsgExists = keyedStorePresent(spark, semAsgPath(wh))
        trainedCentroids match {
          case Some(cents) =>
            require(semAsgExists || !storeExists,
              s"ingestEmbeddings: ${semAsgPath(wh)} is missing but the " +
                "vector store already has vectors the assignment store " +
                "would never cover — run retrainSemStore(warehouse) to " +
                "build sem_asg over the existing corpus before " +
                "sem-maintained drops")
            checkThresholdAt(spark, semPairsPath(wh), "corpus/sem_pairs",
              semThreshold)
            // frozen-centroid identity: a drop assigned under different
            // centroids than sem_asg was built with fragments clusters
            // silently — pin the centroid fingerprint the way the band
            // stores pin their hash geometry
            Sinks.checkAndStampParams(spark, semAsgPath(wh),
              Seq("cents_fp" ->
                SimilarityOps.centroidFingerprint(cents).toString))
          case None =>
            require(!semAsgExists,
              s"ingestEmbeddings: ${semAsgPath(wh)} exists — this " +
                "warehouse is sem-maintained, and a drop ingested without " +
                "trainedCentroids would leave its vectors out of the " +
                "assignment store forever (pass the centroids, or drop " +
                "the sem store to stop maintaining it)")
        }
      },
      dedup = _.dropDuplicates("vec_id"),
      prepare = identity,
      overflow = SimilarityOps.overflowingCodeBuckets,
      firstPairs = SimilarityOps.cosinePairsLsh(_, threshold),
      pairsAgainst = (spark, wh, inc, hot, salt) =>
        SimilarityOps.cosinePairsLshIncremental(
          readStore(spark, embBandsPath(wh)),
          readStore(spark, embVecsPath(wh)), inc, threshold,
          excludeBuckets = hot, saltHotBuckets = salt),
      beforeCommit = (spark, wh, inc, storeExists, buckets) =>
        trainedCentroids.foreach(semMaintain(spark, wh, inc, _, semThreshold,
          storeExists, buckets)),
      // the band table is created first, so its create can be the one a
      // crash cut
      land = (spark, wh, inc, buckets) => {
        healTornCreate(spark, embBandsPath(wh))
        SimilarityOps.appendEmbSignatureStoreBucketed(inc, embBandsPath(wh),
          embVecsPath(wh), buckets = buckets)
      },
      compacted = Seq[String => String](embBandsPath, embVecsPath) ++
        (if (trainedCentroids.isDefined) Seq(semAsgPath _) else Nil))

  /** SemDeDup maintenance for one embedding drop, under FROZEN trained
    * centroids (the retrain-cadence contract — see
    * SimilarityOps.semAssignTable): assign the increment once, derive
    * within-cluster pairs against the persisted assignment store, append
    * pairs + assignments. All of it lands BEFORE the vec-store commit
    * point, so a crash anywhere here re-admits the vecs on retry and these
    * keyed appends no-op what already landed.
    */
  private def semMaintain(spark: SparkSession, wh: String, inc: DataFrame,
                          cents: DataFrame, semThreshold: Double,
                          storeExists: Boolean, buckets: Int): Unit = {
    val storedAsg =
      if (keyedStorePresent(spark, semAsgPath(wh)))
        readStore(spark, semAsgPath(wh))
      // first drop: an empty store with the right schema — the
      // incremental path then derives new-new pairs only
      else SimilarityOps.semAssignTable(inc.limit(0), cents)
    // ONE broadcast-assign pass per drop: the persisted frame feeds the
    // pair derivation (both join branches) AND the store append
    val freshAsg = graft.core.GraftCaches.acquire(
      SimilarityOps.semAssignTable(inc, cents).repartition(col("vec_id")))
    // the commit guard (vec-store semi-join on the verified pairs) keeps
    // orphan sem_asg rows from a crashed-and-abandoned drop out of the
    // pair table — see semPairsIncrementalFromAssign. With no commit
    // table yet (first drop, including its crash-retry where sem_asg
    // landed but emb_vecs did not) the legitimate commit set is EMPTY:
    // any stored assignment row is either an orphan or re-admitted in
    // this very increment (whose pairs re-derive as new-new)
    val semPairs = graft.core.GraftCaches.acquire(
      SimilarityOps.semPairsIncrementalFromAssign(storedAsg, freshAsg,
        semThreshold, commitIds = Some(
          if (storeExists) readStore(spark, embVecsPath(wh)).select("vec_id")
          else inc.select("vec_id").limit(0))))
    stampThresholdAt(spark, semPairsPath(wh), semThreshold)
    appendKeyedStore(spark, semPairs, semPairsPath(wh), buckets,
      keys = Seq("vec_a", "vec_b"))
    if (!semPairs.isEmpty)
      updateLabels(spark, semCcPath(wh), semPairsPath(wh), semPairs,
        "vec_a", "vec_b", buckets)
    appendKeyedStore(spark, freshAsg, semAsgPath(wh), buckets,
      keys = Seq("cid", "vec_id"), bucketKeys = Seq("cid"))
  }

  private def mediaDrops(maxHamming: Int) =
    Drops[(DataFrame, DataFrame)](MediaModality,
      cutoff = maxHamming.toDouble,
      // chunk count = maxHamming + 1: the pair ledger alone would not
      // catch a cut drift against a band store stamped by a direct
      // appendPhashStoreBucketed user before any pair table existed
      geometry = Seq("maxHamming" -> maxHamming.toString),
      dedup = _.dropDuplicates("media_id"),
      // ONE decode pass: (hashes, bands) feed pairing and the landing
      prepare = { inc =>
        val hashes = graft.core.GraftCaches.acquire(
          Multimodal.imageHashes(inc).repartition(col("media_id")))
        (hashes, graft.core.GraftCaches.acquire(
          Multimodal.phashBandTableFromHashes(hashes, maxHamming)))
      },
      overflow = Multimodal.overflowingChunkBuckets,
      firstPairs = { case (hashes, _) => Multimodal.nearDupFromHashes(
        hashes.filter(col("phash").isNotNull && col("phash") =!= -1L),
        maxHamming) },
      pairsAgainst = (spark, wh, hb, hot, salt) =>
        Multimodal.phashIncrementalFromBands(
          readStore(spark, mediaBandsPath(wh)), hb._2, maxHamming,
          // commit guard: only store rows whose id reached the hash
          // commit table may pair — orphan band rows from a crashed,
          // never-retried drop emit no ghosts
          commitIds =
            Some(readStore(spark, mediaHashPath(wh)).select("media_id")),
          excludeBuckets = hot, saltHotBuckets = salt),
      // bands before the hash commit point; same prefix-keyed
      // exchange-free existence check as appendPhashStoreBucketed. The
      // hash table records EVERY id, undecodable payloads included, so a
      // broken image is decoded once and then trimmed forever
      land = (spark, wh, hb, buckets) => {
        appendKeyedStore(spark, hb._2, mediaBandsPath(wh), buckets,
          keys = Seq("ci", "chunk", "media_id"), bucketKeys = Seq("ci", "chunk"))
        appendKeyedStore(spark, hb._1, mediaHashPath(wh), buckets,
          keys = Seq("media_id"))
      },
      compacted = Seq(mediaBandsPath, mediaHashPath))

  /** The one drop body behind `run`, `ingestEmbeddings` and `ingestMedia`:
    * lease → park-aware presence → refusals → trim → within-drop dedup →
    * lineage cut → hot-bucket cap and capped ledger → pairs → threshold
    * stamp → pair append → label update → pre-commit appends →
    * commit-point landing → compaction. Returns (new rows landed, new
    * verified pairs).
    */
  private def ingestVia[P](spark: SparkSession, drop: DataFrame, wh: String,
                           d: Drops[P], buckets: Int,
                           maxBucketCandidates: Option[Int],
                           hotBucketSalt: Int): (Long, Long) =
      // every mutating entry point holds the warehouse write lease: a
      // second concurrent drop would pass the trim against a store missing
      // this drop's increment and silently lose cross-drop pairs — the
      // lease turns that silent gap into a fail-fast (WarehouseLease doc)
      graft.core.WarehouseLease.withWriteLease(spark, wh) {
    val m = d.m
    // park-aware presence (keyedStorePresent, not raw pathExists): a crash-
    // parked commit table read as ABSENT would silently take the
    // first-drop branch — no trim, batch pair derivation — and every
    // new-old pair against the existing corpus would be lost forever.
    // Under the lease just taken, the park heals in-line, and so does an
    // interrupted first create.
    val storeExists = keyedStorePresent(spark, m.commit(wh))
    // every refusal fires BEFORE any work. Mixed thresholds: a pair row
    // carries no threshold, so appends under a different cut-off would
    // silently corrupt the cumulative table's semantics. Geometry: a band
    // store built under different hash geometry would yield garbage
    // candidates and conflicting signature rows. Both ledgers are
    // stamp-first on the first drop.
    checkThresholdAt(spark, m.pairs(wh), "corpus/" + tableName(m.pairs(wh)),
      d.cutoff)
    d.refuse(spark, wh, storeExists)
    Sinks.checkAndStampParams(spark, m.bands(wh), d.geometry)
    // scope the dedup operators' internal persists to this drop: every
    // consuming action happens inside, so a long-running ingest service
    // doesn't accumulate one MEMORY_AND_DISK frame set per drop (callers'
    // own caches are untouched)
    graft.core.GraftCaches.withScope(spark) {
      // the within-drop dedup runs AFTER the trim: it shuffles its input,
      // and pre-trim that input is the caller's frame at full size
      // (promoteAndIngest passes the CUMULATIVE staged table)
      val trimmed =
        if (!storeExists) drop
        else drop.join(readStore(spark, m.commit(wh)).select(m.idCol),
          Seq(m.idCol), "left_anti")
      // the increment feeds pair derivation AND the landing write, and its
      // defining anti-join READS the store the landing WRITES — Spark's
      // CacheManager recaches path-reading plans on write (a persist would
      // silently recompute the increment as EMPTY after the store append),
      // so cut lineage entirely with an eager checkpoint (reliable when
      // spark.graft.checkpointDir is configured); the increment is
      // drop-bounded, and its row count comes from the cut's own job
      val (inc, nNew) = graft.core.Checkpoints.cutCounted(d.dedup(trimmed))
      if (nNew == 0) (0L, 0L)
      else {
        val prepared = d.prepare(inc)
        // HOT-BUCKET cap: the exchange-free store join opts out of AQE skew
        // splitting, so a flood concentrated in one band bucket would
        // concentrate every later drop on one task. When capped, the
        // overflowing buckets are excluded from the probe and RECORDED in
        // the capped ledger — the recall trade is auditable, never silent.
        // Salt mode derives the hot buckets' pairs through a salted branch
        // instead (no recall trade, nothing recorded).
        val hot = maxBucketCandidates.flatMap { cap =>
          if (!storeExists) None
          else Some(graft.core.GraftCaches.acquire(
            d.overflow(readStore(spark, m.bands(wh)), cap)))
        }
        if (hotBucketSalt <= 0)
          hot.filter(h => !h.isEmpty).foreach(h =>
            Sinks.idempotentAppend(h, m.capped(wh), keys = m.cappedKeys,
              partitionCols = Nil))
        // persisted: the pair frame feeds the count, the keyed append, and
        // the label-store merge (scope-released with the drop)
        val pairs = graft.core.GraftCaches.acquire(
          if (!storeExists) d.firstPairs(prepared)
          else d.pairsAgainst(spark, wh, prepared, hot, hotBucketSalt))
        val nPairs = pairs.count()
        // stamp BEFORE the pairs land: a crash between an unstamped append
        // and the stamp would let a later run at a different threshold slip
        // past the check — the stamp-first order fails closed
        stampThresholdAt(spark, m.pairs(wh), d.cutoff)
        appendKeyedStore(spark, pairs, m.pairs(wh), buckets,
          keys = m.pairCols)
        // fold the drop's pairs into the label store — a driver-side
        // merge over the pairs' endpoints and one broadcast relabel, so
        // survivors never re-runs the full-graph contraction
        if (nPairs > 0)
          updateLabels(spark, m.labels(wh), m.pairs(wh), pairs,
            m.pairCols(0), m.pairCols(1), buckets)
        // the commit table goes LAST: it is the trim's existence key, so
        // its append is the drop's COMMIT POINT. A crash anywhere earlier
        // leaves the row absent — the retry re-admits it through the trim
        // and every keyed append above no-ops the rows that already
        // landed. Writing the trim key any earlier would strand a
        // half-ingested row forever.
        d.beforeCommit(spark, wh, prepared, storeExists, buckets)
        d.land(spark, wh, prepared, buckets)
        // maintenance: every drop appends one file set per table, and the
        // NEXT increment re-reads the whole store. Atomic swap through the
        // bucketed writer, scan-identical data.
        d.compacted.foreach(t =>
          Sinks.compactBucketedIfFragmented(spark, t(wh)))
        (nNew, nPairs)
      }
    }
  }

  /** The one takedown cascade behind `delete`, `deleteEmbeddings` and
    * `deleteMedia` (and `forget`): purge the id-keyed tables, tombstone
    * the ids, drop the label stores, purge the pair tables on either
    * side, rebuild the label stores, audit. Returns per-table
    * (rowsBefore, rowsAfter).
    */
  private[app] def deleteVia(spark: SparkSession, wh: String, m: Modality,
                             ids: Seq[Long]): Map[String, (Long, Long)] =
      graft.core.WarehouseLease.withWriteLease(spark, wh) {
    import spark.implicits._
    val keys = ids.toDF(m.idCol)
    // park-aware (keyedStorePresent): a parked table read as absent would
    // silently SKIP its purge — a takedown that leaves fingerprints
    def purge(tables: Seq[String => String])(
        del: String => (Long, Long)): Map[String, (Long, Long)] =
      tables.flatMap { t =>
        val p = t(wh)
        if (!keyedStorePresent(spark, p)) None else Some(tableName(p) -> del(p))
      }.toMap
    val purged =
      purge(m.keyed)(Sinks.deleteBucketedByKey(spark, _, keys, Seq(m.idCol)))
    // tombstone UNCONDITIONALLY: gating this on the staged table existing
    // left a hole — a takedown issued while a streaming landing was active
    // but before its first promotion recorded nothing, and that first
    // promotion then re-staged and re-ingested the deleted row. The batch
    // path never consults tombstones, so the only cost of a spurious
    // tombstone is a row in a thin table.
    val tomb = Governance.tombstoneWithCounts(spark, m.tombs(wh), keys,
      Seq(m.idCol))
    // removed pair rows can SPLIT components — incremental merge cannot
    // express a split, so the label stores are dropped here (every crash
    // window below then falls back to the recompute, never a stale
    // labeling) and rebuilt EAGERLY from the purged pair tables at the end
    val pairTables = (m.pairs, m.labels) +: m.derivedPairs
    pairTables.foreach { case (_, labels) => dropStore(spark, labels(wh)) }
    val all = purged ++ purge(pairTables.map(_._1))(
      Sinks.deleteBucketedByAnyKey(spark, _, keys, m.idCol, m.pairCols))
    pairTables.foreach { case (pairs, labels) =>
      rebuildLabels(spark, labels(wh), pairs(wh), m.pairCols(0), m.pairCols(1))
    }
    Governance.appendAudit(spark, wh, m.deleteOp, m.idCol, ids.size.toLong,
      all + (tableName(m.tombs(wh)) -> tomb))
    all
  }

  /** The one tombstone lift behind `reinstate`, `reinstateEmbeddings` and
    * `reinstateMedia`; returns the number of tombstones lifted. */
  private def reinstateVia(spark: SparkSession, wh: String, m: Modality,
                           ids: Seq[Long]): Long =
      graft.core.WarehouseLease.withWriteLease(spark, wh) {
    if (!Sinks.storePresent(spark, m.tombs(wh))) 0L
    else {
      import spark.implicits._
      val (before, after) = Sinks.deleteByKey(spark, m.tombs(wh),
        ids.toDF(m.idCol), Seq(m.idCol))
      Governance.appendAudit(spark, wh, m.reinstateOp, m.idCol,
        ids.size.toLong, Map(tableName(m.tombs(wh)) -> (before, after)))
      before - after
    }
  }

  /** The one deduplicated view: the modality's rows minus the
    * non-minimum members of each component over `pairs`. Losers come off
    * the incrementally-maintained label store when present (a co-located
    * scan); the full-graph recompute is the fallback.
    */
  private def survivorsVia(spark: SparkSession, wh: String, m: Modality,
                           pairs: String => String,
                           labels: String => String): DataFrame = {
    val rows = m.rows(spark, wh)
    // lease-free view: storePresent FAILS on a crash-parked pair table
    // instead of silently serving every duplicate (run repair() first)
    if (!Sinks.storePresent(spark, pairs(wh))) rows
    else rows.join(
      losersFor(spark, labels(wh), pairs(wh), m.pairCols(0), m.pairCols(1),
        m.idCol),
      Seq(m.idCol), "left_anti")
  }

  /** Per-document stat partials for the increment — thin rows (ids +
    * counts, never text), same per-doc derivation as TextOps.datacard so
    * the warehouse rollup is EXACTLY the full-scan datacard. Drops
    * without lang/source metadata land NULL strata (the datacard's own
    * rollup grain for unknowns). Zero-token docs are absent on both
    * paths (qualityProjection's filter).
    */
  private[graft] def docStats(docs: DataFrame): DataFrame = {
    val withMeta = Seq("lang", "source").foldLeft(docs) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string"))
    }
    graft.operators.TextOps.qualityProjection(withMeta)
      .select(col("doc_id"), col("n_tok"), col("quality_score"))
      .join(withMeta.select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars")), "doc_id")
      .withColumn("q6", floor(col("quality_score") * 1e6).cast("long"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
        col("n_chars"), col("q6"))
  }

  /** INCREMENTALLY-MAINTAINED datacard: the same rollup as
    * `TextOps.datacard` read from the per-doc stats table instead of the
    * text — corpus-release reporting that never rescans old documents.
    * The stats table is ~40 bytes/doc (0.1% of a text corpus): at 100 TB
    * the report aggregates a ~100 GB thin table, and each drop only ever
    * paid one stats projection at ingest. Idempotent by construction —
    * the doc_id-keyed append makes a replayed drop a stats no-op too.
    */
  def datacard(spark: SparkSession, warehouse: String): DataFrame =
    readStore(spark, statsPath(warehouse))
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("q6")).cast("double") / count(lit(1)) / 1e6)
          .as("mean_quality"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)

  /** STREAMING drop watcher — the live twin of `run`, mirroring how
    * LiveIngest pairs with Backfill on the market side: a file-source
    * stream over the drop directory feeds each micro-batch through the
    * SAME batch ingest. foreachBatch is at-least-once, and `run` is
    * idempotent end to end (trim + three keyed idempotentAppends), so a
    * replayed micro-batch lands nothing twice — the exactly-once upgrade
    * every sink in this engine uses. Trigger.AvailableNow by default: one
    * catch-up pass over unseen drop files, checkpointed under the
    * warehouse.
    */
  def startStream(spark: SparkSession, dropDir: String, warehouse: String,
                  threshold: Double = 0.5,
                  trigger: org.apache.spark.sql.streaming.Trigger =
                    org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    spark.readStream.schema(schema).parquet(dropDir)
      .writeStream
      .option("checkpointLocation", s"$warehouse/_checkpoints/corpus")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        run(spark, batch, warehouse, threshold); ()
      }
      .start()
  }

  /** STREAMED-LANDING ingest, the promote-based twin of `startStream`:
    * instead of running the batch ingest inside foreachBatch, the stream
    * lands documents in a plain streaming PARQUET SINK (exactly-once via
    * its _spark_metadata manifest, like LiveIngest's silver landing) and a
    * periodic maintenance call promotes the landing into the corpus
    * warehouse. This is the shape for a corpus fed by an always-on
    * firehose: the landing write is append-only and never blocks on dedup
    * work; the promote → ingest step runs on the batch cadence, reads the
    * landing through the manifest (uncommitted task output is invisible),
    * and is idempotent end to end. Returns the running landing query.
    */
  def startLanding(spark: SparkSession, dropDir: String, landingPath: String,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    startLandingVia(spark, dropDir, landingPath, trigger,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))

  /** `startLanding` for the EMBEDDING modality: the always-on vector
    * firehose lands (vec_id, embedding) in a streaming parquet sink;
    * `promoteAndIngestEmbeddings` runs the dedup/SemDeDup maintenance on
    * the batch cadence. Same exactly-once shape as the text landing.
    */
  def startEmbeddingLanding(spark: SparkSession, dropDir: String,
                            landingPath: String,
                            trigger: org.apache.spark.sql.streaming.Trigger =
                              org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    startLandingVia(spark, dropDir, landingPath, trigger,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))

  /** `startLanding` for the MEDIA modality: (media_id, content) binary
    * payloads land append-only; decode/hash work stays on the
    * `promoteAndIngestMedia` batch cadence, never in the stream's path.
    */
  def startMediaLanding(spark: SparkSession, dropDir: String,
                        landingPath: String,
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    startLandingVia(spark, dropDir, landingPath, trigger,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))

  private def startLandingVia(spark: SparkSession, dropDir: String,
                              landingPath: String,
                              trigger: org.apache.spark.sql.streaming.Trigger,
                              schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(dropDir)
      .writeStream.format("parquet")
      .option("path", landingPath)
      // a SIBLING with a suffix, not "../_checkpoints": two landings under
      // one parent must not share offsets, and a literal ".." segment is
      // not normalized on object-store FileSystems
      .option("checkpointLocation", s"${landingPath}_checkpoint")
      .trigger(trigger)
      .start()

  /** Promote the streamed landing into the warehouse's staged-drop table
    * and ingest whatever is genuinely new — the batch half of the
    * startLanding rhythm. `Sinks.promote`'s manifest ledger short-circuits
    * an unchanged landing without scanning, and `run`'s shingle-store trim
    * guarantees each promoted doc enters the dedup path exactly once, so
    * calling this on any cadence (or replaying it) lands each streamed doc
    * once: the resulting pair table is bit-identical to ingesting the same
    * drops all-batch. Returns (new docs landed, new verified pairs).
    *
    * Crash safety: promote advances its own ledger BEFORE `run` ingests,
    * so this keeps a second sibling ledger (`._ingested_upto`) written only
    * after a successful ingest — a call that died between the two leaves
    * ingested < promoted, and the next call re-runs the ingest (idempotent:
    * the trim anti-join lands nothing twice) instead of short-circuiting
    * the staged docs into limbo. Tombstoned doc_ids that a promotion
    * re-staged out of the landing (see `delete`) are purged from staged
    * before anything reaches the dedup path.
    */
  def promoteAndIngest(spark: SparkSession, landingPath: String,
                       warehouse: String, threshold: Double = 0.5,
                       storeBuckets: Int = 8,
                       maxBucketCandidates: Option[Int] = None,
                       hotBucketSalt: Int = 0): (Long, Long) =
    promoteAndIngestVia(spark, landingPath, warehouse, TextModality,
      storeBuckets, run(spark, _, warehouse, threshold, storeBuckets,
        maxBucketCandidates, hotBucketSalt))

  /** `promoteAndIngest` for the EMBEDDING modality — the batch half of
    * `startEmbeddingLanding`'s rhythm, with the same crash ledgers and
    * tombstone purge; the promoted staged table feeds `ingestEmbeddings`
    * (including SemDeDup maintenance when `trainedCentroids` is given).
    * Calling it on any cadence, or replaying it, lands each streamed
    * vector once: the resulting pair/assignment tables are bit-identical
    * to ingesting the same drops all-batch.
    */
  def promoteAndIngestEmbeddings(spark: SparkSession, landingPath: String,
                                 warehouse: String, threshold: Double = 0.42,
                                 storeBuckets: Int = 8,
                                 trainedCentroids: Option[DataFrame] = None,
                                 semThreshold: Double = 0.9,
                                 maxBucketCandidates: Option[Int] = None,
                                 hotBucketSalt: Int = 0)
      : (Long, Long) =
    promoteAndIngestVia(spark, landingPath, warehouse, EmbeddingModality,
      storeBuckets, ingestEmbeddings(spark, _, warehouse, threshold,
        storeBuckets, trainedCentroids, semThreshold, maxBucketCandidates,
        hotBucketSalt))

  /** `promoteAndIngest` for the MEDIA modality — the batch half of
    * `startMediaLanding`'s rhythm. Decode/hash work happens here, on the
    * maintenance cadence, never in the stream's write path.
    */
  def promoteAndIngestMedia(spark: SparkSession, landingPath: String,
                            warehouse: String, maxHamming: Int = 3,
                            storeBuckets: Int = 8,
                            maxBucketCandidates: Option[Int] = None,
                            hotBucketSalt: Int = 0)
      : (Long, Long) =
    promoteAndIngestVia(spark, landingPath, warehouse, MediaModality,
      storeBuckets, ingestMedia(spark, _, warehouse, maxHamming, storeBuckets,
        maxBucketCandidates, hotBucketSalt))

  /** The modality-agnostic promote → tombstone-purge → ingest step all
    * three `promoteAndIngest*` entry points share (the landing/promote/
    * ledger machinery in `Sinks.promote` never depended on the modality;
    * this factors the crash ledgers and purge so they cannot drift apart).
    */
  private def promoteAndIngestVia(spark: SparkSession, landingPath: String,
                                  warehouse: String, m: Modality,
                                  storeBuckets: Int,
                                  ingest: DataFrame => (Long, Long))
      : (Long, Long) =
      // lease taken HERE (not only in the nested ingest) so the promote,
      // the tombstone purge, and the ingest are one exclusive unit; the
      // nested ingest re-enters the same JVM lease at depth 2
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    val staged = m.staged(warehouse)
    val tombs = m.tombs(warehouse)
    // a maintenance cadence can legitimately fire before the landing's
    // stream has committed its first trigger (no _spark_metadata yet) —
    // that is "nothing to promote", not an error; Sinks.promote's require
    // would otherwise crash the cadence
    if (!Sinks.pathExists(spark, s"$landingPath/_spark_metadata"))
      return (0L, 0L)
    // the staged mirror is cumulative and key-keyed like the modality's
    // main table: bucketed, each promotion's existence anti-join AND the
    // ingest trim below are co-located on the bucket layout instead of
    // re-shuffling the mirror
    healTornCreate(spark, staged)
    Sinks.promote(spark, landingPath, staged, keys = Seq(m.idCol),
      bucketSpec = Some(Seq(m.idCol) -> storeBuckets))
    if (!Sinks.storePresent(spark, staged)) return (0L, 0L)
    val promotedUpto = readLongLedger(spark, staged + "._promoted_upto")
    val ingLedger = staged + "._ingested_upto"
    if (promotedUpto <= readLongLedger(spark, ingLedger)) return (0L, 0L)
    // governance: a promotion may have re-staged deleted rows from the
    // landing (which is never rewritten) — purge them before ingest; the
    // delete is existence-probed, so a clean staged table costs one probe
    if (Sinks.storePresent(spark, tombs)) {
      Sinks.freshenIfRewritten(spark, tombs)
      Sinks.deleteBucketedByKey(spark, staged, spark.read.parquet(tombs),
        Seq(m.idCol))
    }
    val res = ingest(readStore(spark, staged))
    writeLongLedger(spark, ingLedger, promotedUpto)
    // the staged mirror fragments one file set per promotion like the
    // signature store; same gate, and both sibling ledgers survive the
    // swap (they sit beside the table dir, not inside it)
    Sinks.compactBucketedIfFragmented(spark, staged)
    res
  }

  /** The deduplicated EMBEDDING view — `survivors` for the semantic
    * modality: keep-the-minimum canonical per cosine near-dup cluster over
    * the cumulative `corpus/emb_pairs` table. Losers come off the
    * incrementally-maintained label store when present (a co-located
    * scan); the full-graph recompute is the fallback.
    */
  def embSurvivors(spark: SparkSession, warehouse: String): DataFrame =
    survivorsVia(spark, warehouse, EmbeddingModality, embPairsPath, embCcPath)

  /** The SemDeDup-applied view: keep-the-minimum per semantic cluster
    * component over the cumulative `corpus/sem_pairs` table — the corpus a
    * SemDeDup-curated training run actually reads.
    */
  def semSurvivors(spark: SparkSession, warehouse: String): DataFrame =
    survivorsVia(spark, warehouse, EmbeddingModality, semPairsPath, semCcPath)

  /** Land one MEDIA drop — the image-modality twin of `run` /
    * `ingestEmbeddings`: trim the drop against the hash store (replayed
    * drops are no-ops), decode + hash the increment ONCE, derive
    * perceptual near-dup pairs against the persisted banded store, append
    * pairs + bands + hashes. Returns (new media landed, new pairs).
    *
    * The drop frame is (media_id, content: binary), id-immutable like the
    * other modalities. The HASH table (media_id, phash) is the trim's
    * existence key and the drop's COMMIT POINT (written last) — and it
    * records EVERY id, including undecodable payloads (null phash) and
    * degenerate blank-image hashes, so a broken image is decoded once and
    * then permanently trimmed instead of re-attempted every drop; only
    * clean hashes enter the banded store. `maxHamming` is pair-table
    * provenance (a pair row carries its hamming but the CUT defines the
    * table's semantics) — stamped and enforced like the dedup thresholds.
    */
  def ingestMedia(spark: SparkSession, drop: DataFrame, warehouse: String,
                  maxHamming: Int = 3,
                  storeBuckets: Int = 8,
                  maxBucketCandidates: Option[Int] = None,
                  hotBucketSalt: Int = 0): (Long, Long) =
    ingestVia(spark, drop, warehouse, mediaDrops(maxHamming), storeBuckets,
      maxBucketCandidates, hotBucketSalt)

  /** GOVERNANCE DELETE for the media modality: purges media_hashes /
    * media_bands / staged_media_drops on media_id (the recoverable
    * perceptual fingerprint and the stream path's staged mirror) and
    * media_pairs on either side, through the bucketed writer. The raw
    * media bytes live upstream of this warehouse; this removes every
    * derived fingerprint so a re-submission re-lands as new. Tombstones
    * unconditionally (landing promotions must not resurrect the id);
    * `reinstateMedia` lifts.
    */
  def deleteMedia(spark: SparkSession, warehouse: String,
                  mediaIds: Seq[Long]): Map[String, (Long, Long)] =
    deleteVia(spark, warehouse, MediaModality, mediaIds)

  /** `reinstate` for the media modality (lifts the block, never
    * resurrects data). */
  def reinstateMedia(spark: SparkSession, warehouse: String,
                     mediaIds: Seq[Long]): Long =
    reinstateVia(spark, warehouse, MediaModality, mediaIds)

  /** The deduplicated MEDIA view: surviving (media_id, phash) rows under
    * keep-the-minimum per perceptual near-dup cluster over the cumulative
    * pair table — the id list a pipeline keeps (raw bytes live upstream).
    *
    * Only TRAINABLE media survive: the hash store deliberately records
    * undecodable payloads (null phash) and blank-image sentinels (-1) so a
    * broken image is decoded once and trimmed forever, but those rows are
    * ingest bookkeeping, not corpus members — a training-data view must
    * not ship media the pipeline itself could not decode.
    */
  def mediaSurvivors(spark: SparkSession, warehouse: String): DataFrame =
    survivorsVia(spark, warehouse, MediaModality, mediaPairsPath, mediaCcPath)

  /** RETRAIN the SemDeDup state — the other half of the frozen-centroid
    * cadence `ingestEmbeddings(trainedCentroids = ...)` rides on: train
    * fresh centroids on the CURRENT vector store, rebuild the assignment
    * and pair tables from scratch under them, and return the new centroid
    * frame. The centroids are WAREHOUSE STATE, persisted to
    * `corpus/sem_cents` (a tiny k-row parquet sibling of sem_asg) — the
    * returned frame is the parquet scan of that table, so it survives
    * session teardown and executor loss alike; any later session reloads
    * it with `semCentroids`. (The previous localCheckpoint return held the
    * centroid blocks on executors — "safe to hold across drops" only until
    * the first executor loss.) Without this API the documented "rebuild
    * from scratch and resume" step was warehouse hand surgery. The old sem
    * tables and their sibling ledgers are dropped first, so the retrain may
    * change `semThreshold` — the fresh pair table stamps the new
    * provenance. Cost: one Lloyd run over the vector store + one
    * within-cluster pair pass — the batch SemDeDup price, paid once per
    * retrain, not per drop.
    */
  def retrainSemStore(spark: SparkSession, warehouse: String, k: Int = 8,
                      iters: Int = 3, semThreshold: Double = 0.9,
                      storeBuckets: Int = 8): DataFrame =
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    require(keyedStorePresent(spark, embVecsPath(warehouse)),
      s"retrainSemStore: no vector store at ${embVecsPath(warehouse)} — " +
        "ingest embeddings first")
    dropStore(spark, semAsgPath(warehouse))
    dropStore(spark, semPairsPath(warehouse))
    dropStore(spark, semCcPath(warehouse))
    graft.core.GraftCaches.withScope(spark) {
      val vecs = readStore(spark, embVecsPath(warehouse))
      // one shared integerized pass for train + assign; centroids eager +
      // lineage-free — the returned frame must survive this scope's cache
      // release and later store rewrites
      val (cents0, asg0) = graft.operators.SimilarityOps
        .semRetrainFromVecs(vecs, k, iters)
      // persist the k×dims centroid frame to the warehouse FIRST and hand
      // back the scan of it: parquet round-trips doubles bit-exactly, so
      // the assignment store below and every later frozen-centroid drop
      // read the identical values, and the frame outlives this session's
      // executors (a localCheckpoint here was executor-held state — one
      // spot reclaim mid-cadence and the centroids were unrecoverable)
      Sinks.writeCurrent(cents0, semCentsPath(warehouse))
      Sinks.freshenIfRewritten(spark, semCentsPath(warehouse))
      val cents = spark.read.parquet(semCentsPath(warehouse))
      // stamp the NEW centroid identity on the rebuilt assignment store
      // (dropStore removed the old ledger with the old table), so later
      // drops under stale centroids are refused before work
      Sinks.checkAndStampParams(spark, semAsgPath(warehouse),
        Seq("cents_fp" -> graft.operators.SimilarityOps
          .centroidFingerprint(cents).toString))
      val asg = graft.core.GraftCaches.acquire(asg0)
      stampThresholdAt(spark, semPairsPath(warehouse), semThreshold)
      appendKeyedStore(spark,
        graft.operators.SimilarityOps.semPairsFromAssignments(asg, semThreshold),
        semPairsPath(warehouse), storeBuckets, keys = Seq("vec_a", "vec_b"))
      // rebuild the sem label store from the fresh pair table (the old
      // one went with the old sem state); the store-absent branch of
      // updateLabels reads the full table, so the increment frame is
      // an empty placeholder
      updateLabels(spark, semCcPath(warehouse), semPairsPath(warehouse),
        asg.limit(0).select(col("vec_id").as("vec_a"),
          col("vec_id").as("vec_b")), "vec_a", "vec_b", storeBuckets)
      appendKeyedStore(spark, asg, semAsgPath(warehouse), storeBuckets,
        keys = Seq("cid", "vec_id"), bucketKeys = Seq("cid"))
      cents
    }
  }

  /** The persisted frozen-centroid frame of a sem-maintained warehouse —
    * the value to feed `ingestEmbeddings(trainedCentroids = ...)` between
    * retrains. Durable warehouse state written by `retrainSemStore`, so a
    * fresh session (or a driver restarted after executor loss) reloads the
    * exact centroids the assignment store was built under instead of
    * holding a frame across sessions. None before the first retrain.
    */
  def semCentroids(spark: SparkSession, warehouse: String): Option[DataFrame] =
    if (Sinks.storePresent(spark, semCentsPath(warehouse)))
      Some {
        Sinks.freshenIfRewritten(spark, semCentsPath(warehouse))
        spark.read.parquet(semCentsPath(warehouse))
      }
    else None

  /** The deduplicated corpus view: keep-the-minimum canonical per near-dup
    * cluster over the CUMULATIVE pair table. Losers come off the
    * incrementally-maintained label store when present — a co-located
    * argmax scan plus one anti-join shipping loser ids; the full-graph
    * contraction runs only as the fallback (no drop has derived a pair
    * yet, or a crash cut the label store's create).
    */
  def survivors(spark: SparkSession, warehouse: String): DataFrame =
    survivorsVia(spark, warehouse, TextModality, pairsPath, ccLabelsPath)

  // ---- re-exported public API --------------------------------------------
  //
  // The governance / snapshot / export surfaces moved to focused modules
  // (Governance, CorpusSnapshots, CorpusExports) when this file crossed
  // 2,400 lines; the entry-point object keeps forwarding so every caller
  // (tests, queries, operational tooling) sees ONE warehouse API.

  def registerLinks(spark: SparkSession, warehouse: String,
                    links: DataFrame): Unit =
    Governance.registerLinks(spark, warehouse, links)

  def forget(spark: SparkSession, warehouse: String,
             contentKeys: Seq[Long]): Map[String, (Long, Long)] =
    Governance.forget(spark, warehouse, contentKeys)

  def governanceAudit(spark: SparkSession, warehouse: String): DataFrame =
    Governance.governanceAudit(spark, warehouse)

  def curatedSurvivors(spark: SparkSession, warehouse: String): DataFrame =
    Governance.curatedSurvivors(spark, warehouse)

  def fsck(spark: SparkSession, warehouse: String): DataFrame =
    Governance.fsck(spark, warehouse)

  def repair(spark: SparkSession, warehouse: String): DataFrame =
    Governance.repair(spark, warehouse)

  def warehouseStatus(spark: SparkSession, warehouse: String): DataFrame =
    Governance.warehouseStatus(spark, warehouse)

  def snapshotCorpus(spark: SparkSession, warehouse: String,
                     atMs: Option[Long] = None): Long =
    CorpusSnapshots.snapshotCorpus(spark, warehouse, atMs)

  def listCorpusSnapshots(spark: SparkSession,
                          warehouse: String): DataFrame =
    CorpusSnapshots.listCorpusSnapshots(spark, warehouse)

  def curatedAsOf(spark: SparkSession, warehouse: String,
                  asOfMs: Long): DataFrame =
    CorpusSnapshots.curatedAsOf(spark, warehouse, asOfMs)

  def snapshotDiff(spark: SparkSession, warehouse: String,
                   fromTs: Long, toTs: Long): DataFrame =
    CorpusSnapshots.snapshotDiff(spark, warehouse, fromTs, toTs)

  def expireCorpusSnapshots(spark: SparkSession, warehouse: String,
                            keepLast: Int): Long =
    CorpusSnapshots.expireCorpusSnapshots(spark, warehouse, keepLast)

  def exportCorpus(spark: SparkSession, warehouse: String, asOfMs: Long,
                   numShards: Int, atMs: Option[Long] = None): Long =
    CorpusExports.exportCorpus(spark, warehouse, asOfMs, numShards, atMs)

  def extendExport(spark: SparkSession, warehouse: String,
                   baseExportTs: Long, asOfMs: Long,
                   atMs: Option[Long] = None): Long =
    CorpusExports.extendExport(spark, warehouse, baseExportTs, asOfMs, atMs)

  def listCorpusExports(spark: SparkSession, warehouse: String): DataFrame =
    CorpusExports.listCorpusExports(spark, warehouse)

  def readExport(spark: SparkSession, warehouse: String,
                 exportTs: Long): DataFrame =
    CorpusExports.readExport(spark, warehouse, exportTs)

  def exportIntegrity(spark: SparkSession, warehouse: String,
                      exportTs: Long): DataFrame =
    CorpusExports.exportIntegrity(spark, warehouse, exportTs)

  def expireCorpusExports(spark: SparkSession, warehouse: String,
                          keepLast: Int): Long =
    CorpusExports.expireCorpusExports(spark, warehouse, keepLast)
}
