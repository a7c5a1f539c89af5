package graft.app

import graft.core.Sinks
import graft.app.CorpusStore._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GOVERNANCE surface of the corpus warehouse: cross-modality linkage and
  * unified takedown (`registerLinks` / `forget`), the durable audit trail
  * (`appendAudit` / `governanceAudit`), the cross-modality curated corpus
  * view (`curatedSurvivors`), and the warehouse integrity pair
  * (`fsck` / `repair`). Split out of CorpusIngest (which re-exports the
  * public API) purely for module size — semantics unchanged.
  */
object Governance {

  /** CROSS-MODALITY LINKAGE — the table `forget` resolves: one row per
    * (content_key, modality, id) with modality in {"doc", "vec", "media"},
    * registered at ingest alongside each drop (the ingest entry points
    * cannot infer the linkage — doc/vec/media id spaces are independent by
    * design, and only the pipeline that derived a vector from a document
    * knows they are the same content). Keyed idempotent append, so
    * re-registering with a replayed drop is a no-op. Thin rows, one
    * modality per row — no null-keyed columns to break the keyed no-op.
    */
  def registerLinks(spark: SparkSession, warehouse: String,
                    links: DataFrame): Unit =
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    require(Set("content_key", "modality", "id").subsetOf(links.columns.toSet),
      s"registerLinks needs (content_key, modality, id), got " +
        links.columns.mkString(", "))
    val bad = links.select(col("modality")).distinct()
      .filter(!col("modality").isin(modalities.map(_.link): _*)).collect()
    require(bad.isEmpty,
      s"registerLinks: unknown modalities ${bad.mkString(",")} — " +
        s"expected ${modalities.map(_.link).mkString(" | ")}")
    Sinks.idempotentAppend(
      links.select(col("content_key").cast("long"), col("modality"),
        col("id").cast("long")),
      linksPath(warehouse),
      keys = Seq("content_key", "modality", "id"), partitionCols = Nil)
  }

  /** UNIFIED TAKEDOWN — one entry point for "forget this content":
    * resolves the linkage table and cascades `delete`,
    * `deleteEmbeddings`, and `deleteMedia` (each with its tombstone) in a
    * single leased call, then purges the resolved link rows themselves
    * (a (content_key, id) mapping is a content fingerprint too). Without
    * this, a compliance pass had to know which modalities a piece of
    * content reached and issue three id-space-specific deletes — and a
    * missed modality left recoverable fingerprints behind.
    *
    * The resolved id lists ride the driver (takedown lists are
    * human-scale, same class as the delete APIs' Seq[Long] inputs).
    * Returns the combined audit, entries keyed `<modality>.<table>` plus
    * `links`. Content keys with no link rows contribute nothing — calling
    * forget on never-registered content is a no-op, not an error.
    */
  def forget(spark: SparkSession, warehouse: String,
             contentKeys: Seq[Long]): Map[String, (Long, Long)] =
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    if (!Sinks.storePresent(spark, linksPath(warehouse))) Map.empty
    else {
      import spark.implicits._
      val keyDf = contentKeys.toDF("content_key")
      Sinks.freshenIfRewritten(spark, linksPath(warehouse))
      val resolved = spark.read.parquet(linksPath(warehouse))
        .join(keyDf, "content_key")
        .select(col("modality"), col("id")).distinct().collect()
      val cascades = modalities.flatMap { m =>
        val ids = resolved.filter(_.getString(0) == m.link).map(_.getLong(1))
        if (ids.isEmpty) Nil
        else CorpusIngest.deleteVia(spark, warehouse, m, ids.toSeq)
          .map { case (k, v) => s"${m.link}.$k" -> v }
      }
      val all = cascades.toMap +
        ("links" -> Sinks.deleteByKey(spark, linksPath(warehouse), keyDf,
          Seq("content_key")))
      appendAudit(spark, warehouse, "forget", "content_key",
        contentKeys.size.toLong, Map("links" -> all("links")))
      all
    }
  }

  private[graft] def auditPath(wh: String) = s"$wh/corpus/audit_log"

  /** Durable GOVERNANCE AUDIT TRAIL: every delete / forget / reinstate
    * appends one row per table it TOUCHED — including the tombstone
    * tables the deletes stamp — as (seq, at_ms, op, id_col, n_ids,
    * table, rows_before, rows_after), so a compliance pass can prove a
    * takedown ran (and what it removed, and that the streamed-
    * resurrection block was placed) without having captured the entry
    * point's return value. `seq` is a per-warehouse monotonic event
    * number — same-millisecond events stay ordered, which `at_ms` alone
    * cannot promise. It comes off a sibling ledger (stamp-first, race-free
    * because every writer holds the warehouse lease); the full-log
    * max-scan runs only when that ledger is absent or unreadable. Plain
    * event-log append, deliberately NOT keyed: a
    * crash-retried cascade logs twice, which is the truthful record (the
    * cascade ran twice — idempotently). Each cascade writes its audit
    * rows LAST, so a crash mid-cascade under-reports (the retry re-logs)
    * rather than fabricating a completed purge. A call that touched
    * nothing (reinstate before any tombstone table, forget of an
    * unregistered key) logs nothing — there is no event to record. The
    * log is thin and lives outside the content tables — `fsck` and the
    * views never read it.
    */
  /** The audit log: a plain parquet event table, every row numbered. */
  private[app] def readAudit(spark: SparkSession, warehouse: String): DataFrame =
    spark.read.parquet(auditPath(warehouse))

  /** Sibling ledger holding the LAST USED audit seq — the metadata-read
    * that replaces scanning the whole (compacted, but unbounded) event log
    * for max(seq) on every governance call. Sibling placement survives the
    * log's compaction swap, like every other ledger here.
    */
  private[graft] def auditSeqLedger(wh: String) = auditPath(wh) + "._audit_seq"

  private[app] def appendAudit(spark: SparkSession, warehouse: String, op: String,
                          idCol: String, nIds: Long,
                          entries: Map[String, (Long, Long)]): Unit =
    if (entries.nonEmpty) {
      import spark.implicits._
      val at = System.currentTimeMillis()
      // park-aware presence gate on EVERY branch, not only the
      // ledger==-1 fallback: the log is compactable (swapInto), so a crash
      // between its two renames parks it at ._compact_old. With the seq
      // ledger present, a plain Append would recreate the live directory
      // holding only the new event — silently orphaning the whole
      // historical trail in a state fsck can never see (live exists) and
      // a later compaction's stage-out rename would collide with. Leased
      // callers (all of them) heal the park in-line here.
      val logPresent = Sinks.storePresent(spark, auditPath(warehouse))
      // last used seq: the ledger when present; one full-log scan only
      // when it is absent or unreadable (a torn ledger write — unreadable
      // = re-derive, never skip). Race-free: every governance writer
      // holds the warehouse lease.
      val last = readLongLedger(spark, auditSeqLedger(warehouse)) match {
        case -1L =>
          if (!logPresent) -1L
          else {
            val r = readAudit(spark, warehouse).agg(max(col("seq"))).head()
            if (r.isNullAt(0)) -1L else r.getLong(0)
          }
        case v => v
      }
      val seq = last + 1L
      // STAMP-FIRST, same crash ordering as every ledger here: a crash
      // between the stamp and the row append leaves a seq GAP — an event
      // that recorded nothing, i.e. the trail under-reports (fsck flags
      // the gap as warn). The reverse order could reuse a seq after a
      // crash and fabricate one event out of two — never acceptable in a
      // compliance trail.
      writeLongLedger(spark, auditSeqLedger(warehouse), seq)
      entries.toSeq.map { case (t, (b, a)) =>
        (seq, at, op, idCol, nIds, t, b, a)
      }
        .toDF("seq", "at_ms", "op", "id_col", "n_ids", "table",
          "rows_before", "rows_after")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(auditPath(warehouse))
      // lifecycle: one coalesced file per event still fragments at a real
      // compliance cadence — same 4× gate as every other table. The swap
      // preserves row content exactly and the sibling ledgers ride it.
      Sinks.compactIfFragmented(spark, auditPath(warehouse), targetFiles = 4)
    }

  /** Tombstone stamp with (before, after) table counts for the audit
    * trail — the tombstone tables are thin (one id per row), so the two
    * counts are metadata-cheap.
    */
  private[app] def tombstoneWithCounts(spark: SparkSession, path: String,
                                  keys: DataFrame,
                                  keyCols: Seq[String]): (Long, Long) = {
    val before =
      if (Sinks.storePresent(spark, path)) {
        Sinks.freshenIfRewritten(spark, path)
        spark.read.parquet(path).count()
      }
      else 0L
    Sinks.idempotentAppend(keys, path, keys = keyCols, partitionCols = Nil)
    Sinks.freshenIfRewritten(spark, path)
    (before, spark.read.parquet(path).count())
  }

  /** The governance audit trail as a frame (empty-but-schema'd when no
    * governance call has run), newest event first.
    */
  def governanceAudit(spark: SparkSession, warehouse: String): DataFrame =
    if (Sinks.storePresent(spark, auditPath(warehouse)))
      readAudit(spark, warehouse)
        .select(col("seq"), col("at_ms"), col("op"), col("id_col"),
          col("n_ids"), col("table"), col("rows_before"), col("rows_after"))
        .orderBy(col("seq").desc, col("at_ms").desc, col("table"))
    else {
      import spark.implicits._
      Seq.empty[(Long, Long, String, String, Long, String, Long, Long)]
        .toDF("seq", "at_ms", "op", "id_col", "n_ids", "table",
          "rows_before", "rows_after")
    }

  /** The CROSS-MODALITY curated corpus — the view a training run reads
    * when content flows through more than one modality: text `survivors`
    * RESTRICTED to docs whose linked embedding and media representations
    * also survived their own dedup passes. The linkage is the same
    * `corpus/links` table `forget` resolves: a doc whose vector lost its
    * cosine or SemDeDup cluster is semantically duplicated content even
    * when its TEXT survived the Jaccard cut (that asymmetry is SemDeDup's
    * whole premise), and a doc whose image lost its perceptual cluster
    * likewise. Docs with no links — or none in a given modality, or in a
    * modality whose stores this warehouse never built — are unconstrained
    * by it; with no links table at all this degenerates to `survivors`.
    * Scale shape: every join ships thin id rows (links is (key, modality,
    * id); the survivor sets resolve off the label stores), so the
    * restriction costs id-sized joins on top of the label scans.
    */
  def curatedSurvivors(spark: SparkSession, warehouse: String): DataFrame = {
    val docs = CorpusIngest.survivors(spark, warehouse)
    if (!Sinks.storePresent(spark, linksPath(warehouse))) docs
    else {
      Sinks.freshenIfRewritten(spark, linksPath(warehouse))
      val links = spark.read.parquet(linksPath(warehouse))
      // "lost" means LOST A DEDUP CLUSTER (a component non-minimum) —
      // deliberately not "absent from the survivors view": the media view
      // also excludes undecodable/blank bookkeeping rows, and a doc whose
      // image merely failed to decode is not duplicated content
      def lostVia(modality: String, labelP: String, pairsP: String,
                  a: String, b: String): Option[DataFrame] =
        if (!Sinks.storePresent(spark, pairsP)) None
        else Some(links.filter(col("modality") === modality)
          .join(losersFor(spark, labelP, pairsP, a, b, "id"),
            Seq("id"), "left_semi")
          .select(col("content_key")))
      val allLost = Seq(
        // a vec lost in EITHER the cosine or the SemDeDup clustering
        lostVia("vec", embCcPath(warehouse), embPairsPath(warehouse),
          "vec_a", "vec_b"),
        lostVia("vec", semCcPath(warehouse), semPairsPath(warehouse),
          "vec_a", "vec_b"),
        lostVia("media", mediaCcPath(warehouse), mediaPairsPath(warehouse),
          "media_a", "media_b")).flatten
      if (allLost.isEmpty) docs
      else {
        val lost = allLost.reduce(_ unionByName _).distinct()
        val lostDocs = links.filter(col("modality") === "doc")
          .join(lost, Seq("content_key"), "left_semi")
          .select(col("id").as("doc_id"))
        docs.join(lostDocs, Seq("doc_id"), "left_anti")
      }
    }
  }

  /** WAREHOUSE INTEGRITY CHECK (fsck) — one read-only audit of the
    * invariants the write paths maintain, for the operator who inherits a
    * warehouse after crashes, takedowns, and retries and needs to know
    * whether what is on disk is still the state the contracts promise.
    * Returns (check, table, violations, severity):
    *
    *   - severity "warn" rows are states DOCUMENTED flows can reach and
    *     a retry or a governance decision resolves: crash-window residue
    *     (orphan band/assignment rows, documents without their shingle
    *     commit row, PAIR rows referencing ids whose commit append the
    *     crash preempted — pairs land before the commit point by design,
    *     so ghost refs are residue too, healed when the drop retries and
    *     kept inert meanwhile by the probe guards), and tombstoned ids
    *     present in content tables (legal after a documented pure-batch
    *     re-submission of a deleted id — but review it: if no
    *     re-submission happened, a takedown leaked). Label-store
    *     residue is warn too: a torn store create (directory without
    *     its spec ledger — reads already fall back) and pair ids the
    *     label merge has not yet covered (pairs land before the merge;
    *     a retry or any delete's eager rebuild heals, and the miss can
    *     only UNDER-drop). A persistently GROWING warn count means
    *     drops are crashing and nobody retries.
    *   - severity "error" rows should be IMPOSSIBLE under the write
    *     contracts: commit rows that precede their write order (shingles
    *     without documents), a pair table without its threshold ledger,
    *     an ingest ledger ahead of its promote ledger, or label-store
    *     nodes with no pair evidence (which could silently suppress a
    *     real row from a survivors view). Any non-zero error count is
    *     corruption: restore from the immutable landing / re-run the
    *     cascade.
    *
    * Every check is an id-projected anti-join or a ledger compare —
    * bounded scans, no content read; bucketed stores join co-located.
    *
    * COMPLETION against a LIVE writer: fsck is lease-free, and the
    * deployment shape it serves (readers on hosts that hold no lease)
    * means a concurrent writer's rewrite swap can rename files away
    * between this scan's planning and its execution — a window the
    * session-cache freshness guard cannot close, because the listing
    * was current when the scan planned. So fsck MATERIALIZES its
    * result internally with scan-level missing-file tolerance (scoped
    * ignoreMissingFiles — masks only the listing-then-vanish race, see
    * the note in the body) plus a bounded whole-pass retry for the
    * directory-level vanish; the freshen guard makes a retry see the
    * post-swap listing. The
    * returned frame is therefore a small LOCAL one (check rows — this
    * read was always collect-sized), and against a live writer the
    * counts are a consistent-per-attempt point-in-time audit, not a
    * frozen snapshot — quiesce the writer (or take the lease) when an
    * exact census is required.
    */
  def fsck(spark: SparkSession, warehouse: String): DataFrame = {
    // scan-level completion: a FILE that vanishes between this scan's
    // listing and its open (a concurrent swap's rename-out) is SKIPPED,
    // not failed on — ignoreMissingFiles, scoped to fsck's OWN reader
    // session (below). This masks ONLY the listing-then-vanish race: a
    // file missing from a STATIC warehouse is simply absent from the
    // listing and never errors today either, so no static corruption
    // class loses its signal. Retrying instead of skipping was tried
    // first and lost to roulette: a delete cascade swaps half a dozen
    // tables over several seconds, so consecutive whole-pass retries
    // kept landing inside successive swap windows (found by the soak
    // under an alternate kill seed). The bounded retry below still
    // covers the DIRECTORY-level vanish (PATH_NOT_FOUND between the
    // existence probe and the read), which the scan-level skip cannot.
    val reader = fsckReader(spark)
    var attempt = 0
    while (true) {
      try {
        val frame = fsckOnce(reader, warehouse)
        return spark.createDataFrame(frame.collectAsList(), frame.schema)
      } catch {
        case e: Throwable if attempt < 2 && isVanishedFileRace(e) =>
          attempt += 1
          // one beat for the swap's second rename to land; the
          // re-read then sees the moved rewrite generation and relists
          Thread.sleep(200L)
      }
    }
    sys.error("unreachable: fsck retry loop exits via return or throw")
  }

  // fsck's DEDICATED reader session, one per caller session (weak-keyed:
  // dies with its parent). The r19 body flipped ignoreMissingFiles on
  // the CALLER's session conf for the scan's duration — so any user
  // query planned concurrently on that session silently skipped missing
  // files too, masking real data loss in ITS results (ADVICE r19). An
  // isolated session scopes the relaxation to exactly fsck's own reads;
  // it shares the SparkContext, the external catalog (bucketed-store
  // registrations), and the cached data, so nothing else changes.
  private val fsckSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  private def fsckReader(spark: SparkSession): SparkSession = {
    val s = fsckSessions.synchronized {
      var r = fsckSessions.get(spark)
      if (r == null) {
        r = spark.newSession()
        fsckSessions.put(spark, r)
      }
      r
    }
    // mirror the caller's MODIFIABLE conf each call: conf-keyed audit
    // behavior (residue age bound, swap TTL/skew allowances, shuffle
    // partitions) must match what the caller configured, today and at
    // this instant — newSession only inherits builder-time options
    for ((k, v) <- spark.conf.getAll)
      if (k != "spark.sql.files.ignoreMissingFiles" &&
          s.conf.getOption(k) != Some(v) && s.conf.isModifiable(k))
        s.conf.set(k, v)
    s.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    s
  }

  /** True when `t`'s cause chain is the vanished-file race a concurrent
    * writer's swap induces in a lease-free scan (FileNotFound at task
    * time, or PATH_NOT_FOUND when the directory itself moved between
    * the existence probe and the read) — the one failure class fsck
    * retries; anything else propagates untouched.
    */
  private def isVanishedFileRace(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 20) {
      cur match {
        case _: java.io.FileNotFoundException => return true
        case _ =>
          val m = cur.getMessage
          if (m != null && (m.contains("FileNotFoundException") ||
              m.contains("PATH_NOT_FOUND"))) return true
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  private def fsckOnce(spark: SparkSession, warehouse: String): DataFrame = {
    import spark.implicits._
    // MEMOIZED per pass: several checks consult the same table (a commit
    // table anchors every missing-from/ghost check of its modality), and
    // the un-memoized shape re-paid the presence probe, bucket-ledger
    // read, torn-create walk, freshness guard, and parquet footer
    // schema-infer per CHECK — pure driver-side metadata latency that
    // measured as a visible slice of the fsck floor (r20 decomposition).
    // One read per table per pass is also the more honest audit shape:
    // every check of a pass sees the same relation snapshot.
    val readCache = scala.collection.mutable.Map[String, Option[DataFrame]]()
    def read(p: String): Option[DataFrame] = readCache.getOrElseUpdate(p, {
      if (!Sinks.pathExists(spark, p)) None
      else if (Sinks.isBucketedStore(spark, p))
        Some(Sinks.readBucketedPath(spark, p))
      else if (!Sinks.hasCommittedDataFiles(spark, p))
        // torn store create: a bare dir a killed first-create left —
        // zero rows by construction, so every check over it is vacuous
        // (the owning drop's retry rebuilds it); fsck's design goal is
        // to COMPLETE on a torn warehouse, never to crash on one
        None
      else {
        // a plain-by-design table (tombstones, capped buckets, links, the
        // audit log), or a keyed table whose first create was cut before
        // its ledger: read as-is for the audit, behind the cross-driver
        // staleness guard
        Sinks.freshenIfRewritten(spark, p)
        Some(spark.read.parquet(p))
      }
    })
    def short(p: String) = p.split('/').takeRight(1).mkString
    def fileExists(p: String) = Sinks.pathExists(spark, p)
    // Two result channels, ONE action: distributed checks build 1-row
    // aggregate frames and driver-side checks (ledger compares, directory
    // censuses) build literal rows; everything unions into a single lazy
    // plan, so the whole audit is ONE Spark job however many checks run.
    // The previous shape — an eager .count() per check — paid ~30 serial
    // job round-trips, which is pure scheduler latency on a large
    // cluster where each check is a small co-located join.
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val local =
      scala.collection.mutable.ArrayBuffer[(String, String, Long, String)]()
    def countRow(check: String, table: String, sev: String)
                (df: DataFrame): Unit =
      frames += df.agg(count(lit(1)).as("violations"))
        .select(lit(check).as("check"), lit(table).as("table"),
          col("violations"), lit(sev).as("severity"))
    // ids present in `tableP` but absent from `commitP`
    def missingFrom(check: String, tableP: String, keyT: String,
                    commitP: String, keyC: String, sev: String): Unit =
      for (t <- read(tableP)) {
        val c = read(commitP).map(_.select(col(keyC).as("k")))
          .getOrElse(Seq.empty[Long].toDF("k"))
        countRow(check, short(tableP), sev)(
          t.select(col(keyT).as("k")).distinct()
            .join(c, Seq("k"), "left_anti"))
      }
    // pair rows with EITHER side absent from the commit table — crash
    // residue too (pairs land BEFORE the commit point by design), so
    // severity warn: the drop's retry heals it, the probe guards keep the
    // ghosts out of new derivations meanwhile
    def ghostPairs(check: String, pairsP: String, a: String, b: String,
                   commitP: String, keyC: String): Unit =
      for (p <- read(pairsP); c0 <- read(commitP)) {
        val c = c0.select(col(keyC).as("k"))
        val sides = p.select(col(a).as("k"))
          .unionByName(p.select(col(b).as("k"))).distinct()
        countRow(check, short(pairsP), "warn")(
          sides.join(c, Seq("k"), "left_anti"))
      }
    // tombstoned ids still present in a content table — legal after a
    // documented pure-batch re-submission (the batch path never consults
    // tombstones), so warn-and-review, not error
    def tombLeak(check: String, tombP: String, contentP: String,
                 key: String): Unit =
      for (t <- read(tombP); c <- read(contentP))
        countRow(check, short(contentP), "warn")(
          t.select(col(key)).join(c.select(col(key)), Seq(key), "left_semi"))
    // component label stores: the survivors views trust these instead of
    // re-running the contraction, so audit them against the pair tables
    // they summarize. A directory WITHOUT its spec ledger is torn-create
    // residue (reads already fall back; the next writer clears it) —
    // warn. Pair-side ids ABSENT from the labels are crash residue too
    // (pairs land before the label merge; the drop's retry — or any
    // delete's eager rebuild — heals), and the miss direction only ever
    // UNDER-drops: warn. Label nodes absent from the pair table cannot
    // arise from any documented flow (merges only add nodes from pairs
    // already appended; deletes rebuild from the purged table) and could
    // suppress a real row from the survivors view with no pair evidence
    // — error. Same drift DEFINITION as labelDrift/repair (expressed as
    // frames here so the audit rides the one-job union; repair keeps the
    // eager helper — it needs the counts to decide a rebuild).
    def labelChecks(labelP: String, pairsP: String, a: String,
                    b: String): Unit = {
      if (fileExists(labelP) && !Sinks.isBucketedStore(spark, labelP))
        local += (("label_store_torn_create", short(labelP), 1L, "warn"))
      // the DIRECTORY must be present too: a crash-parked label store
      // (ledger survives the swap, dir absent) is already the parked_swap
      // row above — running the drift scan against the missing path would
      // abort or count every pair id "missing" next to its own heal
      else if (fileExists(labelP) && Sinks.isBucketedStore(spark, labelP)) {
        if (!fileExists(pairsP))
          // a label store whose pair table is gone (parked — see the
          // parked_swap row — or hand surgery): the drift counts would
          // read "every node orphaned", which is noise next to the real
          // state; one warn row says what to review instead
          local += (("label_store_without_pairs", short(labelP), 1L, "warn"))
        else {
          val nodes = readStore(spark, labelP)
            .select(col("node").as("k")).distinct()
          val ids = readStore(spark, pairsP).select(col(a).as("k"))
            .unionByName(readStore(spark, pairsP).select(col(b).as("k")))
            .distinct()
          countRow("label_missing_nodes", short(labelP), "warn")(
            ids.join(nodes, Seq("k"), "left_anti"))
          countRow("label_orphan_nodes", short(labelP), "error")(
            nodes.join(ids, Seq("k"), "left_anti"))
        }
      }
    }

    // crash-window residue (heals on retry)
    missingFrom("orphan_bands", bandPath(warehouse), "doc_id",
      shinglePath(warehouse), "doc_id", "warn")
    missingFrom("stranded_docs", docsPath(warehouse), "doc_id",
      shinglePath(warehouse), "doc_id", "warn")
    missingFrom("orphan_emb_bands", embBandsPath(warehouse), "vec_id",
      embVecsPath(warehouse), "vec_id", "warn")
    missingFrom("orphan_sem_asg", semAsgPath(warehouse), "vec_id",
      embVecsPath(warehouse), "vec_id", "warn")
    missingFrom("orphan_media_bands", mediaBandsPath(warehouse), "media_id",
      mediaHashPath(warehouse), "media_id", "warn")
    // write-order violations (impossible under the contracts)
    missingFrom("headless_shingles", shinglePath(warehouse), "doc_id",
      docsPath(warehouse), "doc_id", "error")
    // ghost pair references that escaped the probe guards
    ghostPairs("ghost_pair_refs", pairsPath(warehouse), "doc_a", "doc_b",
      shinglePath(warehouse), "doc_id")
    ghostPairs("ghost_emb_pair_refs", embPairsPath(warehouse), "vec_a",
      "vec_b", embVecsPath(warehouse), "vec_id")
    ghostPairs("ghost_sem_pair_refs", semPairsPath(warehouse), "vec_a",
      "vec_b", embVecsPath(warehouse), "vec_id")
    ghostPairs("ghost_media_pair_refs", mediaPairsPath(warehouse), "media_a",
      "media_b", mediaHashPath(warehouse), "media_id")
    // takedown leaks
    tombLeak("tombstone_leak", tombPath(warehouse), shinglePath(warehouse),
      "doc_id")
    tombLeak("emb_tombstone_leak", embTombPath(warehouse),
      embVecsPath(warehouse), "vec_id")
    tombLeak("media_tombstone_leak", mediaTombPath(warehouse),
      mediaHashPath(warehouse), "media_id")
    // crash-parked rewrite swaps anywhere under the warehouse: the table's
    // data is complete but parked at ._compact_old with the live path
    // absent — reads fail until Sinks.recoverSwap (or the next write on
    // the table) restores the rename, so surface every one (warn: a
    // documented crash state with a one-call heal). Reported by
    // warehouse-RELATIVE name so same-basename tables stay distinct.
    // ONE shared tree traversal feeds both filesystem censuses below
    // (parked swaps + writeAtomic temp residue) — WarehouseWalk doc;
    // previously each ran its own recursive listing of the same tree,
    // and the duplicate metadata storm was fsck's slowest row at a
    // many-thousand-table warehouse.
    val treeScan = graft.core.WarehouseWalk.scan(spark, warehouse)
    graft.core.SwapProtocol
      .resolveParkedTables(spark, warehouse, treeScan.parkedSwaps)
      .foreach { case (_, rel) =>
        local += (("parked_swap", rel, 1L, "warn"))
      }
    // AtomicFiles.writeAtomic's crash residue next to LIVE tables
    // (`<name>.tmp-xxxxxxxx` — a writer died between its temp create
    // and the publish rename). Inert by construction (never read as a
    // ledger) and swept at dropStore for the dropped table's own, but
    // otherwise immortal — census'd so accumulation is visible, warn so
    // repair (which clears it) is the pointer. AGE-BOUNDED: fsck runs
    // lease-free, so the raw walk can catch a LIVE writer's in-flight
    // temp (the swap-token beat re-stamps one every TTL/3) — only files
    // older than the bound count, so an actively-written warehouse
    // doesn't flash transient warn counts. Always emitted, count 0 on a
    // healthy warehouse, so the check can't silently vanish from the
    // inventory.
    local += (("writeatomic_tmp_residue", "warehouse",
      staleTempResidue(spark, warehouse, treeScan).size.toLong, "warn"))
    // label-store / pair-table consistency
    labelChecks(ccLabelsPath(warehouse), pairsPath(warehouse),
      "doc_a", "doc_b")
    labelChecks(embCcPath(warehouse), embPairsPath(warehouse),
      "vec_a", "vec_b")
    labelChecks(semCcPath(warehouse), semPairsPath(warehouse),
      "vec_a", "vec_b")
    labelChecks(mediaCcPath(warehouse), mediaPairsPath(warehouse),
      "media_a", "media_b")
    // ledger presence / ordering
    for (pp <- Seq(pairsPath(warehouse), embPairsPath(warehouse),
      semPairsPath(warehouse), mediaPairsPath(warehouse))
      if fileExists(pp))
      local += (("missing_threshold_ledger", short(pp),
        if (fileExists(pp + "._threshold")) 0L else 1L, "error"))
    for (bp <- Seq(bandPath(warehouse), embBandsPath(warehouse),
      mediaBandsPath(warehouse), semAsgPath(warehouse))
      if fileExists(bp))
      local += (("missing_params_ledger", short(bp),
        if (fileExists(bp + "._params")) 0L else 1L, "warn"))
    for (st <- Seq(stagedPath(warehouse), stagedEmbPath(warehouse),
      stagedMediaPath(warehouse)) if fileExists(st)) {
      val promoted = readLongLedger(spark, st + "._promoted_upto")
      val ingested = readLongLedger(spark, st + "._ingested_upto")
      local += (("ingest_ledger_ahead", short(st),
        if (ingested > promoted) 1L else 0L, "error"))
    }
    // the AUDITOR is audited too: the compliance trail's own invariants.
    // Seq numbering is stamp-first under the lease, so per event (one
    // (seq, at_ms, op, n_ids) write): a seq shared by two DISTINCT events
    // is impossible under the contracts and would fabricate one takedown
    // out of two — error. A seq GAP (ledger stamped, rows never landed)
    // is the documented crash window — the trail under-reports, warn.
    // The ledger must never trail the log (that is how a seq gets
    // reused) — error; ledger ahead of the log is the same crash window
    // as a gap — warn.
    // presence AND at least one committed file: a kill during the very
    // first audit append leaves the bare-dir torn-create state, which
    // has no events to audit (and no footer to read)
    if (fileExists(auditPath(warehouse)) &&
        Sinks.hasCommittedDataFiles(spark, auditPath(warehouse))) {
      val events = readAudit(spark, warehouse)
        .select(col("seq"), col("at_ms"), col("op"), col("id_col"),
          col("n_ids")).distinct()
      countRow("audit_duplicate_seq", "audit_log", "error")(
        events.groupBy(col("seq")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1))
      // gaps = max(seq) + 1 - distinct-event count, floored at 0; an
      // empty numbered log aggregates max = null -> coalesce to 0 gaps
      frames += events
        .agg(greatest(lit(0L),
          coalesce(max(col("seq")) + 1L - count(lit(1)), lit(0L)))
          .as("violations"))
        .select(lit("audit_seq_gaps").as("check"),
          lit("audit_log").as("table"), col("violations"),
          lit("warn").as("severity"))
      // an ABSENT ledger (removed; appendAudit's scan fallback
      // re-derives the numbering) has nothing to order against, so the
      // ordering checks only run against a ledger that exists
      if (fileExists(auditSeqLedger(warehouse))) {
        val ledger = readLongLedger(spark, auditSeqLedger(warehouse))
        val logMax = events
          .agg(coalesce(max(col("seq")), lit(-1L)).as("m"))
        frames += logMax.select(
          lit("audit_seq_ledger_behind").as("check"),
          lit("audit_log").as("table"),
          when(lit(ledger) < col("m"), lit(1L)).otherwise(lit(0L))
            .as("violations"),
          lit("error").as("severity"))
        frames += logMax.select(
          lit("audit_seq_ledger_ahead").as("check"),
          lit("audit_log").as("table"),
          when(lit(ledger) > col("m"), lit(1L)).otherwise(lit(0L))
            .as("violations"),
          lit("warn").as("severity"))
      }
    }
    // snapshot manifests: an uncommitted dir is snapshotCorpus' documented
    // crash window (manifest landed, commit marker didn't) — invisible to
    // every read, warn, repair clears it. A COMMITTED manifest whose row
    // count drifts from its commit marker should be impossible (the
    // marker lands last, over a finished manifest) — error. Per-stamp
    // count-vs-marker comparisons union into the one job too.
    def manifestDrift(check: String, table: String, stamps: Seq[Long],
                      dirOf: Long => String,
                      ledgerOf: String => String): Unit =
      if (stamps.isEmpty) local += ((check, table, 0L, "error"))
      else frames += stamps.map { ts =>
        val dir = dirOf(ts)
        val n = readLongLedger(spark, ledgerOf(dir))
        Sinks.readBucketedPath(spark, dir).agg(count(lit(1)).as("n"))
          .select(when(col("n") =!= lit(n), lit(1L)).otherwise(lit(0L))
            .as("v"))
      }.reduce(_ unionByName _)
        .agg(coalesce(sum(col("v")), lit(0L)).as("violations"))
        .select(lit(check).as("check"), lit(table).as("table"),
          col("violations"), lit("error").as("severity"))
    locally {
      val (snaps, torn) = CorpusSnapshots.scanSnapshots(spark, warehouse)
      local += (("snapshot_uncommitted", "snapshots", torn.size.toLong,
        "warn"))
      manifestDrift("snapshot_manifest_drift", "snapshots", snaps,
        ts => CorpusSnapshots.snapDirOf(warehouse, ts),
        CorpusSnapshots.snapCommitLedger)
    }
    // export manifests: same commit protocol, same reachability — an
    // uncommitted dir is exportCorpus' crash window (warn, repair
    // clears); a committed manifest disagreeing with its marker count
    // should be impossible (error).
    locally {
      val (exps, torn) = CorpusExports.scanExports(spark, warehouse)
      local += (("export_uncommitted", "exports", torn.size.toLong, "warn"))
      manifestDrift("export_manifest_drift", "exports", exps,
        ts => CorpusExports.exportDirOf(warehouse, ts),
        CorpusExports.exportCommitLedger)
    }
    val localDf = local.toSeq.toDF("check", "table", "violations", "severity")
    (frames :+ localDf).reduce(_ unionByName _)
      .orderBy(col("severity"), col("check"), col("table"))
  }

  /** Conf key: minimum age (millis, file-mtime-based, default 15 min)
    * before a walked `.tmp-*` file counts as [[graft.core.AtomicFiles]]
    * `writeAtomic` CRASH residue rather than a live writer's in-flight
    * temp. fsck and repair both run the census through this bound: a
    * lease-free fsck racing a healthy writer would otherwise flash a
    * transient warn for a temp that is milliseconds from its publish
    * rename, and a repair clearing that same temp would fail the
    * writer's rename out from under it. Any bound comfortably above
    * the longest legitimately-live temp works — temps live for one
    * write + rename (ms), and the longest-lived family, the swap-token
    * beat's, is re-created every TTL/3 (20 s default); 15 min is three
    * orders of magnitude of margin while still surfacing a crashed
    * writer's residue on the same operational shift it died.
    */
  val TmpResidueMinAgeKey = "spark.graft.fsck.tmpResidueMinAgeMs"

  /** The walk's temp-residue finding, age-bounded per
    * [[TmpResidueMinAgeKey]] — the single filter both fsck (census) and
    * repair (clear) apply, so the warn count and the heal can never
    * disagree about which files qualify.
    *
    * Ages compare STORAGE-side mtimes against a STORAGE-derived "now"
    * ([[storageNow]]) — never the driver's wall clock: object stores
    * and HDFS stamp mtimes server-side, so driver/storage clock skew
    * would erode the margin in both directions, and a driver clock a
    * skew ahead of the store could make repair claim a LIVE writer's
    * in-flight temp, failing its publish rename (ADVICE r19).
    */
  private def staleTempResidue(spark: SparkSession, warehouse: String,
      scan: graft.core.WarehouseWalk.Findings): Seq[String] = {
    if (scan.tempResidue.isEmpty) return Seq.empty
    val minAge = spark.conf.getOption(TmpResidueMinAgeKey)
      .map(_.trim.toLong).getOrElse(900000L)
    val cutoff = storageNow(spark, warehouse) - minAge
    scan.tempResidue.collect { case (p, mtime) if mtime <= cutoff => p }
  }

  /** The warehouse's OWN clock: publish a tiny probe sibling at the
    * root and read its mtime back — that is "now" as the filesystem
    * stamps it, directly comparable with the walked residue mtimes
    * whatever the driver's clock does. The probe goes through the
    * atomic publish (a racing second census overlaps harmlessly) and
    * its name is a recognized control family, so even ITS crash residue
    * stays census-visible. A store that refuses the write (read-only
    * mount) falls back to the driver clock — on such a mount repair
    * cannot delete anything anyway, so the skew hazard the probe
    * removes cannot arise there.
    */
  private def storageNow(spark: SparkSession, warehouse: String): Long = {
    val p = new org.apache.hadoop.fs.Path(warehouse + "/._clockprobe")
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.core.AtomicFiles.writeAtomic(fs, p, "probe")
      graft.core.AtomicFiles.raw(fs).getFileStatus(p).getModificationTime
    } catch { case _: Exception => System.currentTimeMillis() }
  }

  /** MECHANICAL REPAIR — the write-side companion to `fsck`: applies, in
    * one leased call, every heal that is safe WITHOUT re-running a drop:
    *
    *   1. `recovered_swap` — restore every crash-parked table under the
    *      warehouse (`Sinks.parkedSwaps` → `recoverSwap`).
    *   2. `cleared_torn_label_create` — remove label directories whose
    *      spec ledger never landed (reads already ignore them; clearing
    *      unblocks the next writer without waiting for a drop).
    *   3. `rebuilt_label_store` — any label store whose node set drifted
    *      from its pair table (pair ids the merge never covered, or
    *      orphan label nodes) is rebuilt from the pair table — the same
    *      full-contraction rebuild the delete cascades use.
    *
    * Crash residue that needs the ORIGINAL drop's data — orphan band/
    * assignment rows, stranded docs, ghost pair refs — is deliberately
    * NOT touched: only the drop's retry can heal those, and `fsck` keeps
    * reporting them until it does. Returns (action, table) rows for the
    * audit trail; a healthy warehouse returns an empty frame.
    */
  def repair(spark: SparkSession, warehouse: String): DataFrame =
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def short(p: String) = p.split('/').takeRight(1).mkString
    // the one shared tree traversal (WarehouseWalk doc) — parked swaps
    // and temp residue both read off this scan
    val treeScan = graft.core.WarehouseWalk.scan(spark, warehouse)
    // warehouse-relative names keep same-basename tables distinct in both
    // the result and the audit keys (the walk covers the whole tree)
    graft.core.SwapProtocol
      .resolveParkedTables(spark, warehouse, treeScan.parkedSwaps)
      .foreach { case (table, rel) =>
      if (Sinks.recoverSwap(spark, table))
        out += (("recovered_swap", rel))
    }
    val labelStores = Seq(
      (ccLabelsPath(warehouse), pairsPath(warehouse), "doc_a", "doc_b"),
      (embCcPath(warehouse), embPairsPath(warehouse), "vec_a", "vec_b"),
      (semCcPath(warehouse), semPairsPath(warehouse), "vec_a", "vec_b"),
      (mediaCcPath(warehouse), mediaPairsPath(warehouse),
        "media_a", "media_b"))
    labelStores.foreach { case (labelP, pairsP, a, b) =>
      if (Sinks.pathExists(spark, labelP) &&
          !Sinks.isBucketedStore(spark, labelP)) {
        dropStore(spark, labelP)
        out += (("cleared_torn_label_create", short(labelP)))
      } else if (Sinks.pathExists(spark, labelP) &&
                 Sinks.isBucketedStore(spark, labelP) &&
                 Sinks.pathExists(spark, pairsP)) {
        // the SAME drift invariant fsck reports — shared helper, so the
        // audit and the heal can never diverge. Both tables must be
        // present (the swap-recovery step above already restored parked
        // ones); a genuinely absent pair table is ambiguous and repair
        // never drops data on ambiguity.
        val (missing, orphan) = labelDrift(spark, labelP, pairsP, a, b)
        if (missing + orphan > 0) {
          rebuildLabels(spark, labelP, pairsP, a, b)
          out += (("rebuilt_label_store", short(labelP)))
        }
      }
    }
    // uncommitted snapshot dirs are snapshotCorpus' documented crash
    // residue (manifest landed, commit marker didn't) — invisible to
    // every read, so clearing loses nothing a snapshot retry can't
    // recreate. FOREIGN residue (a dir whose stamp suffix is not a
    // number — hand surgery, never ours) stays: repair never drops data
    // on ambiguity; fsck keeps warning until an operator reviews it.
    CorpusSnapshots.scanSnapshots(spark, warehouse)._2
      .filter(d => isStampResidue(d, "snap_ts=")).foreach { d =>
        dropStore(spark, d)
        out += (("cleared_uncommitted_snapshot", short(d)))
      }
    // same protocol, same recovery: an uncommitted export dir is invisible
    // to every read and an export retry recreates it exactly
    CorpusExports.scanExports(spark, warehouse)._2
      .filter(d => isStampResidue(d, "export_ts=")).foreach { d =>
        dropStore(spark, d)
        out += (("cleared_uncommitted_export", short(d)))
      }
    // writeAtomic's `.tmp-*` crash residue next to LIVE tables: inert
    // by construction (never the live ledger — the rename that would
    // have made it one never ran), so clearing needs no drop data; the
    // fsck census keeps warning until someone does. The name test lives
    // with the writer (AtomicFiles.isTempResidue) so this can't drift
    // into deleting anything writeAtomic didn't create; the AGE bound
    // (staleTempResidue, shared with fsck's census) keeps it off a live
    // writer's in-flight temp, whose delete would fail the publish
    // rename out from under the writer.
    staleTempResidue(spark, warehouse, treeScan).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, false)
      out += (("cleared_tmp_residue", short(f)))
    }
    // the repair itself is a governance-grade event: record WHICH actions
    // ran (the counts columns carry no row delta for a repair — zeroed)
    if (out.nonEmpty)
      appendAudit(spark, warehouse, "repair", "n/a", 0L,
        out.map { case (act, t) => s"$act.$t" -> ((0L, 0L)) }.toMap)
    out.toSeq.toDF("action", "table")
  }

  /** ONE-STOP operational status of a warehouse — the first read an
    * operator (or a scheduler deciding whether to dispatch a drop) makes
    * on a warehouse they did not build, previously assembled from four
    * APIs. Rows are (kind, name, n):
    *
    *   - `lease` — the current write-lease holder and its expiry millis
    *     (`<free>` / 0 when unheld; `<corrupt>` for a torn stamp, same
    *     parse as the acquire path). A read-only snapshot, never a
    *     transition — see [[graft.core.WarehouseLease.status]].
    *   - `parked_swap` — one row per crash-parked rewrite swap
    *     (warehouse-relative table name, n = 1): the "run repair" signal.
    *   - `audit_head` — the compliance trail's last used event seq off
    *     its sibling ledger (-1: no numbered event yet).
    *   - `snapshot` / `export` — the retention censuses: one row per
    *     committed artifact, name = stamp, n = pinned doc count (off the
    *     commit markers — metadata reads, no manifest scan).
    *   - `coordination` — THIS JVM's coordination-health gauges
    *     ([[graft.core.WarehouseLease.coordinationGauges]]): connects
    *     abandoned as wedged, beats skipped behind a wedged one.
    *     Monotonic-since-JVM-start and inherently non-deterministic, so
    *     they are unit-locked (LeaseSpec asserts the counting), not
    *     oracle-locked — the `corpus_status` query filters the kind out
    *     before its hash compare. `*_jvm` names mark the scope: the
    *     rows answer "is the ASKING driver's medium degrading", not a
    *     property of the warehouse.
    *
    * Purely metadata-sized: a lease read, a directory walk, ledger reads
    * — no content table is scanned, so the answer costs the same on a
    * 100 TB warehouse as on a fixture. Lease-free by design (status must
    * be readable while a writer works); inherently a snapshot.
    */
  def warehouseStatus(spark: SparkSession, warehouse: String): DataFrame = {
    import spark.implicits._
    // the lease row DEGRADES, never aborts the read: a scheme with no
    // registered medium reports `<unsupported>`, and a registered medium
    // that cannot answer (coordination db down — its ops are
    // timeout-bounded, so this resolves promptly) reports `<unreachable>`.
    // The census/ledger components need only a readable filesystem, and
    // the operator asking "what state is this warehouse in" still
    // deserves every answer the metadata can give.
    val lease =
      try graft.core.WarehouseLease.status(spark, warehouse) match {
        case Some((owner, exp)) => ("lease", owner, exp)
        case None => ("lease", "<free>", 0L)
      } catch {
        case _: graft.core.WarehouseLease.LeaseUnsupportedException =>
          ("lease", "<unsupported>", 0L)
        case _: Exception =>
          ("lease", "<unreachable>", 0L)
      }
    val parked = Sinks.parkedSwapTables(spark, warehouse)
      .map { case (_, rel) => ("parked_swap", rel, 1L) }
    // readLongLedger answers -1 for an absent ledger itself — no
    // pre-probe (this read's selling point is being metadata-cheap)
    val auditHead = ("audit_head", "audit_log",
      readLongLedger(spark, auditSeqLedger(warehouse)))
    val coordination = graft.core.WarehouseLease.coordinationGauges
      .map { case (gauge, n) => ("coordination", gauge, n) }
    val driverRows = (lease +: parked) ++ (auditHead +: coordination)
    driverRows.toDF("kind", "name", "n")
      .unionByName(CorpusSnapshots.listCorpusSnapshots(spark, warehouse)
        .select(lit("snapshot").as("kind"),
          col("snap_ts").cast("string").as("name"), col("n_docs").as("n")))
      .unionByName(CorpusExports.listCorpusExports(spark, warehouse)
        .select(lit("export").as("kind"),
          col("export_ts").cast("string").as("name"), col("n_docs").as("n")))
      .orderBy(col("kind"), col("name"))
  }
}
